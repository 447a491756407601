"""Driver contract for the ccspark PySpark crawl-frontier engine.

``entry(spark)`` runs the flagship crawl-identity pipeline on sf0.001;
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
every SQL-expressible query (rows-only checks otherwise).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import ccspark.functions as CF

_SESSION_SUFFIX = ";jsessionid=abcdef0123456789abcdef0123456789"


_LOAD_CACHE: dict = {}


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet relation per (application, sf_dir, table), memoized.

    spark.read.parquet() pays ~70-95 ms of file listing + footer schema
    inference PER CALL; across a 12-query bench pass that metadata work
    alone is >1 s.  The memo returns the same DataFrame (metadata only —
    every action still scans the parquet; no data or results are
    cached), which is what a catalog table would give for free.  It is
    keyed on the Spark application id, and a miss drops every other
    application's entries, so a stopped session's DataFrames are not
    kept alive."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    df = _LOAD_CACHE.get(key)
    if df is None:
        for stale in [k for k in _LOAD_CACHE if k[0] != app_id]:
            del _LOAD_CACHE[stale]
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _LOAD_CACHE[key] = df
    return df


def _doc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic Common-Crawl-style url column from the
    driver's documents table.  Messy variants all canonicalize back to
    the same (source, doc_id) identity: www. prefixes, explicit :80,
    session ids, UPPERCASE scheme+host, trailing host dots — together
    they exercise every tier of the canonicalization kernel inside the
    driver's oracle gate."""
    docs = _load(spark, sf_dir, "documents")
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("http://"))
    host = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(".")).otherwise(F.lit("")),
    )
    host = F.when(F.col("doc_id") % 11 == 0, F.upper(host)).otherwise(host)
    url = F.concat(
        scheme,
        host,
        F.when(F.col("doc_id") % 5 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/docs/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(_SESSION_SUFFIX)).otherwise(F.lit("")),
    )
    return docs.withColumn("url", url)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: canonicalize → URLFPV2 → exact dedup → per-host counts
    over a pages-shaped derivation of sf0.001 (scan, Arrow UDF, shuffle,
    agg — the crawl-identity core of SURVEY.md §7 step 3)."""
    sf_dir = "/root/testdata/sf0.001"
    pages = _doc_pages(spark, sf_dir)
    df = CF.with_canonical_urlfp(pages, with_host=True)
    return (
        df.filter("url_valid")
        .groupBy("host")
        .agg(
            F.countDistinct("domain_hash", "url_hash").alias("n_urls"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# queries — each callable: (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------


def q_scan_filter(spark, sf_dir):
    """S-family: parquet scan with pushed filter + pruned projection.
    (Predicate chosen to be non-vacuous at every sf: shipdates in the
    driver testdata start 1995-01-02.)"""
    li = _load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") < 5) & (F.col("l_shipdate") < "1996-01-01")).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )


def q_agg_pricing(spark, sf_dir):
    """A4 combiner analog: partial+final aggregation (TPC-H Q1 shape)."""
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 1).alias("sum_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("cnt"),
    )


def q_join_agg(spark, sf_dir):
    """Broadcast dim join (robots/budget join shape, SURVEY.md §2.4)."""
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 1).alias("total_price"),
        )
    )


def q_topk(spark, sf_dir):
    """A5: global top-k via total order (orderBy + limit)."""
    orders = _load(spark, sf_dir, "orders")
    return orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).select(
        "o_orderkey", "o_totalprice"
    ).limit(10)


def q_pagination(spark, sf_dir):
    """A5: limit+offset pagination over a sorted result."""
    orders = _load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .offset(20)
        .limit(10)
    )


def q_politeness_rank(spark, sf_dir):
    """W1/W4: salted-key window/rank budget gate (politeness scheduler
    shape: partition by key, order by priority, keep top-N)."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    # explicit repartition by the window key: the events table is one
    # row group, so the otherwise-single scan task would also run the
    # pre-shuffle sort + partial rank serially; hash-repartitioning
    # first satisfies the window's required distribution (same single
    # Exchange) while the sort/rank run at full parallelism.  Identical
    # rows: row_number's order (value DESC, event_id) is a total order
    # per user, invariant to partitioning.
    return (
        ev.select("event_id", "user_id", "value")
        .repartition(max(2, spark.sparkContext.defaultParallelism // 2), "user_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_moving_avg(spark, sf_dir):
    """A7: windowed moving average (MovingAverage analog)."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("msum"),
        F.count("*").over(w).alias("mcnt"),
    )


def q_histogram(spark, sf_dir):
    """A7: histogram (groupBy count + mean)."""
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("cnt"), F.round(F.avg("value"), 2).alias("avg_value")
    )


def q_distinct(spark, sf_dir):
    """H5/A8: exact distinct per group."""
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


def q_set_ops(spark, sf_dir):
    """A9: set difference (frontier-delta shape).  Non-vacuous at every
    sf: users with a mid-value error event but no high-value one."""
    ev = _load(spark, sf_dir, "events")
    mid = ev.filter((F.col("event_type") == "error") & (F.col("value") > 100)).select("user_id").distinct()
    high = ev.filter((F.col("event_type") == "error") & (F.col("value") > 300)).select("user_id").distinct()
    return mid.subtract(high)


def q_dedup_exact(spark, sf_dir):
    """H5: exact content dedup via hash-groupBy on documents."""
    docs = _load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.count("*").alias("cnt"), F.min("doc_id").alias("keeper_doc_id")
    )


def q_token_count(spark, sf_dir):
    """Text analysis: whitespace token count per document."""
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )


def q_text_quality(spark, sf_dir):
    """Text analysis: per-language length/volume profile."""
    docs = _load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("cnt"),
        F.round(F.avg(F.length("text")), 2).alias("avg_len"),
        F.round(F.avg(F.size(F.split(F.col("text"), " "))), 2).alias("avg_tokens"),
    )


def q_urlfp_dedup(spark, sf_dir):
    """P2/P3/H1/H2 end-to-end: canonicalize + URLFPV2 dedup per host.
    Oracle-checkable because the url derivation is deterministic: the
    canonical identity of each messy url is exactly its (source, doc_id)."""
    # repartition before the Arrow kernel: the documents table is a
    # single parquet file with one row group, so the scan (and any UDF
    # fused into its stage) would otherwise run in ONE task — the
    # round-robin exchange of (doc_id, source) is tiny and buys
    # cluster-wide kernel parallelism.  Width cores/2 (scale-adaptive):
    # each extra task adds a python-worker round trip, and the A/B at
    # 32 cores measured 16 ≈ 8 < 32 < none (0.52/0.53/0.61/0.86 s).
    pages = _doc_pages(spark, sf_dir).repartition(
        max(2, spark.sparkContext.defaultParallelism // 2)
    )
    df = CF.with_canonical_urlfp(pages, with_host=True)
    return (
        df.filter("url_valid")
        .groupBy("host")
        .agg(F.countDistinct("domain_hash", "url_hash").alias("n_urls"))
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Similarity search: brute-force cosine top-k against vec_id=0."""
    emb = _load(spark, sf_dir, "embeddings")
    # limit(1) short-circuits the query-vector job (vec_id is unique, so
    # the result is unchanged).
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("q"))
        .limit(1)
        .collect()[0]["q"]
    )
    qlit = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_e = F.sqrt(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )
    import math

    qnorm = math.sqrt(sum(float(x) * float(x) for x in q))
    sim = F.round(dot / (norm_e * F.lit(qnorm)), 4)
    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )




def q_quality_score(spark, sf_dir):
    """Text quality features (length/space/punct/stopword ratios)."""
    from ccspark import textops

    docs = _load(spark, sf_dir, "documents")
    return textops.quality_columns(docs).select(
        "doc_id",
        F.col("space_ratio"),
        F.col("punct_ratio"),
        F.col("mean_token_len"),
    )


def q_bpe_tokens(spark, sf_dir):
    """BPE-shaped subword count estimate (regex tokenizer, Catalyst only)."""
    docs = _load(spark, sf_dir, "documents")
    words = F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]', 0)")
    est = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.when(w.rlike("^[A-Za-z]+$"), F.ceil(F.length(w) / 4)).otherwise(F.lit(1)).cast("long"),
    )
    return docs.select("doc_id", est.alias("bpe_tokens"))


def q_jaccard_3gram(spark, sf_dir):
    """Exact 3-char-shingle Jaccard similarity for a fixed doc subset."""
    from ccspark import dedup

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 10 AND length(text) >= 3")
    sh = dedup.with_char_shingles(docs.select("doc_id", "text"), "text", k=3)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return dedup.jaccard_pairs(pairs).select("id_a", "id_b", "jaccard")


def q_binary_meta(spark, sf_dir):
    """Multimodal metadata over an opaque binary payload column."""
    from ccspark import multimodal

    docs = _load(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "utf-8"))
    return multimodal.with_media_meta(docs, "payload", "text-blob").select(
        "doc_id", "n_bytes", "digest"
    )


def q_media_video(spark, sf_dir):
    """REAL MP4/WebM container-metadata parse end to end: synthesize a
    spec-shaped fixture per document (ISO-BMFF box tree for even
    doc_ids, Matroska EBML tree for odd — ccspark.video builders with
    dimensions/duration derived from doc_id), run the box/EBML walkers
    through the multimodal extractor, and emit container + dimensions +
    duration + byte size.  The container column is sniffed from the
    ACTUAL payload bytes in Catalyst (substring == b'ftyp'), and
    n_bytes locks the fixture byte layout; durations are exact in
    binary64 on both engines (timescale 1000 / TimecodeScale 1e6), so
    no rounding is needed."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ccspark import multimodal, video

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 200").select("doc_id")

    def _mk_video(doc_id):
        out = []
        for did in doc_id:
            d = int(did)
            w, h, dur = 320 + d % 16 * 16, 180 + d % 9 * 20, 1000 + d * 37
            out.append(
                video.build_mp4(w, h, dur)
                if d % 2 == 0
                else video.build_webm(w, h, float(dur))
            )
        return pd.Series(out, index=doc_id.index)

    mk = pandas_udf(_mk_video, "binary")
    payloads = docs.withColumn("payload", mk(F.col("doc_id"))).withColumn(
        "container",
        F.when(F.expr("substring(payload, 5, 4)") == F.lit(b"ftyp"), F.lit("mp4")).otherwise(
            F.lit("webm")
        ),
    )
    feats = multimodal.extract_features(
        payloads, "doc_id", "payload", media_type="video", carry=("container",)
    )
    return feats.select(
        "doc_id",
        "container",
        "width",
        "height",
        F.element_at("features", 1).alias("duration_ms"),
        "n_bytes",
    )


def q_langid(spark, sf_dir):
    """Language-ID heuristic distribution (rows-only check)."""
    from ccspark import textops

    docs = _load(spark, sf_dir, "documents")
    return (
        docs.withColumn("detected", textops.detect_lang(F.col("text")))
        .groupBy("detected")
        .agg(F.count("*").alias("cnt"))
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup detection, oracle-checkable: exact duplicates
    are planted (doc_id+10000 copies of doc_id<50), whose 64/64 identical
    signatures guarantee banded-join recall and est_jaccard == 1.0; the
    oracle is the planted identical-text pair set."""
    from ccspark import dedup

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 500").select("doc_id", "text")
    planted = docs.filter("doc_id < 50").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    u = docs.unionByName(planted)
    cands = dedup.minhash_candidates(u, "doc_id", "text", n_hashes=64, bands=16).filter(
        F.col("est_jaccard") >= 0.999
    )
    # exact-verify stage (the standard LSH -> verify dedup pipeline):
    # distinct texts can share every 5-shingle (word soup from a small
    # vocabulary), so signature equality alone over-reports
    ha = u.select(F.col("doc_id").alias("id_a"), F.md5("text").alias("md5_a"))
    hb = u.select(F.col("doc_id").alias("id_b"), F.md5("text").alias("md5_b"))
    return (
        cands.join(ha, "id_a")
        .join(hb, "id_b")
        .filter(F.col("md5_a") == F.col("md5_b"))
        .select("id_a", "id_b", "est_jaccard")
    )


def q_authority_schedule(spark, sf_dir):
    """Integration of graph.pagerank with the politeness scheduler
    shape: host authority (PageRank over the same synthetic link graph
    as q_pagerank) becomes the priority signal — each candidate's
    priority is host_rank × n_chars, and the budget window keeps the
    top-3 per host (authority-ordered fetch, the OPIC/PageRank
    frontier-prioritization pattern)."""
    from ccspark.graph import pagerank

    docs = _load(spark, sf_dir, "documents")
    edges = docs.filter("doc_id < 400").select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 37 + 11) % 200).alias("dst"),
    )
    ranks = pagerank(edges, iters=3).select(
        F.col("node").alias("host"), "rank"
    )
    cands = docs.filter("doc_id < 2000").select(
        "doc_id", (F.col("doc_id") % 200).alias("host"), "n_chars"
    )
    prio = cands.join(F.broadcast(ranks), "host").withColumn(
        "priority", F.round(F.col("rank") * F.col("n_chars"), 10)
    )
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        prio.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("host", "doc_id", "priority", "rn")
    )


def q_lm_score(spark, sf_dir):
    """CCNet-style char-bigram LM quality scoring (textops.ngram_lm_score):
    LM fit on doc_id<100, every doc_id<500 scored by avg negative
    log-likelihood per bigram.  The DuckDB oracle re-fits and re-scores
    the same add-one model independently; round-6 equality exercises
    the float contract across engines."""
    from ccspark import textops

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 500").select("doc_id", "text")
    ref = docs.filter("doc_id < 100")
    return textops.ngram_lm_score(docs, ref)


def q_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (ccspark.graph.pagerank) — the crawl
    authority-prioritization signal — over a deterministic synthetic
    link graph on doc ids: src=doc_id<400, dst=(doc_id*37+11)%200.
    Every node has out-degree ≥1 (dst < 200 < 400), so the oracle can
    omit the dangling-mass term; 3 unrolled power iterations in SQL."""
    from ccspark.graph import pagerank

    edges = (
        _load(spark, sf_dir, "documents")
        .filter("doc_id < 400")
        .select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 37 + 11) % 200).alias("dst"),
        )
    )
    return pagerank(edges, iters=3).select(F.col("node").alias("doc_id"), "rank")


def q_dedup_clusters(spark, sf_dir):
    """Full fuzzy-dedup clustering: LSH candidates → verify → connected
    components (large-star/small-star, ccspark.graph) → keep-one.  Two
    copies are planted per doc_id<30 (+10000, +20000), so every planted
    cluster is {d, d+10000, d+20000} with representative d; the oracle
    is that closed-form cluster table (base texts are md5-distinct —
    the invariant q_minhash_lsh already gates)."""
    from ccspark import dedup

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 500").select("doc_id", "text")
    planted = docs.filter("doc_id < 30")
    u = docs.unionByName(
        planted.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    ).unionByName(planted.select((F.col("doc_id") + 20000).alias("doc_id"), "text"))
    return (
        dedup.dedup_clusters(u, "doc_id", "text", verify="exact")
        .filter(F.col("cluster_size") > 1)
        .select("doc_id", "cluster_id", "cluster_size", "is_rep")
    )


# Planted near-dup texts with PRECOMPUTED simhash hamming distances
# (single-token edits of a fixed base; hammings verified against the
# golden-gated simhash port at authoring time).  Pairwise: (0,1)=1,
# (0,2)=2, (0,3)=3, (1,2)=3, (1,3)=4, (2,3)=5 — so at max_hamming=3 the
# 4x16-bit banding (complete for hamming<=3 by pigeonhole) must emit
# EXACTLY {(0,1),(0,2),(0,3),(1,2)} with those distances.
_SIMHASH_BASE = (
    "the quick brown fox jumps over the lazy dog while the crawler "
    "fetches pages politely respecting robots and budgets across many "
    "hosts and rounds of scheduled work in the frontier loop today"
)
_SIMHASH_PLANTED = [
    _SIMHASH_BASE,
    _SIMHASH_BASE.replace("over the lazy", "over thin lazy"),   # hamming 1
    _SIMHASH_BASE.replace("over the lazy", "over fire lazy"),   # hamming 2
    "fish" + _SIMHASH_BASE[3:],                                 # hamming 3
]
_SIMHASH_PLANT_ID = 30000


def q_simhash_near_dup(spark, sf_dir):
    """SimHash banded near-dup detection at hamming 1..3, oracled: four
    planted texts with precomputed pairwise hammings ride through the
    banding together with 1000 corpus documents; the banding must
    recall exactly the <=3 planted pairs (guaranteed complete for
    hamming<=3), and the output is filtered to the planted id range so
    chance corpus collisions cannot perturb the expected set."""
    from ccspark import dedup

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 1000").select("doc_id", "text")
    planted = spark.createDataFrame(
        [(int(_SIMHASH_PLANT_ID + i), t) for i, t in enumerate(_SIMHASH_PLANTED)],
        "doc_id long, text string",
    )
    u = docs.unionByName(planted)
    pairs = dedup.simhash_near_dups(u, "doc_id", "text", max_hamming=3)
    return pairs.filter(
        (F.col("id_a") >= _SIMHASH_PLANT_ID) & (F.col("id_b") >= _SIMHASH_PLANT_ID)
    ).select("id_a", "id_b", "hamming")


def q_simhash_dup(spark, sf_dir):
    """SimHash banding + exact verify, oracle-checkable: planted exact
    copies (doc_id+20000 for doc_id<50) have hamming-0 signatures, which
    the 4x16-bit banding finds with guaranteed recall; the md5 verify
    stage then keeps exactly the identical-text pairs (simhash equality
    alone is not text equality)."""
    from ccspark import dedup

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 500").select("doc_id", "text")
    planted = docs.filter("doc_id < 50").select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    u = docs.unionByName(planted)
    cands = dedup.simhash_near_dups(u, "doc_id", "text", max_hamming=0)
    ha = u.select(F.col("doc_id").alias("id_a"), F.md5("text").alias("md5_a"))
    hb = u.select(F.col("doc_id").alias("id_b"), F.md5("text").alias("md5_b"))
    return (
        cands.join(ha, "id_a")
        .join(hb, "id_b")
        .filter(F.col("md5_a") == F.col("md5_b"))
        .select("id_a", "id_b", "hamming")
    )


def q_ann_ivf_full(spark, sf_dir):
    """IVF ANN with nprobe == n_cells (exhaustive probe): exercises the
    cell-routing machinery end to end while being provably exact — the
    result must equal the brute-force cosine top-k, which DuckDB can
    compute."""
    import numpy as np

    from ccspark import ann

    emb = _load(spark, sf_dir, "embeddings")
    sample = emb.orderBy("vec_id").limit(1000)
    cents = ann.fit_centroids(sample, "embedding", n_cells=8, seed=5, sample=1000, iters=3)
    indexed = ann.assign_cells(emb, "embedding", cents)
    q = np.array(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"], dtype=np.float64)
    return ann.ivf_topk(
        indexed.filter("vec_id <> 0"), "embedding", "vec_id", cents, q, k=10, nprobe=8
    )


def q_doc_fingerprint(spark, sf_dir):
    """Winnowing fingerprint counts per document (rows-only check)."""
    from ccspark import textops

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 500")
    return docs.select(
        "doc_id", F.size(textops.doc_fingerprints(F.col("text"))).alias("n_fingerprints")
    )


def q_ann_ivf(spark, sf_dir):
    """IVF-cell ANN top-k (approximate scale path, nprobe < n_cells),
    oracled via a recall-containment gate: every IVF hit must sit inside
    the EXACT cosine top-50 (the exact ranks come from the same
    brute-force scorer that q_ann_cosine_topk gates against DuckDB), and
    the ranked recall flags are compared against the oracle's expected
    constants."""
    import numpy as np
    from pyspark.sql import Window

    from ccspark import ann

    emb = _load(spark, sf_dir, "embeddings")
    sample = emb.orderBy("vec_id").limit(1000)
    cents = ann.fit_centroids(sample, "embedding", n_cells=8, seed=5, sample=1000, iters=3)
    indexed = ann.assign_cells(emb, "embedding", cents)
    q = np.array(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"], dtype=np.float64)
    base = indexed.filter("vec_id <> 0")
    ivf = ann.ivf_topk(base, "embedding", "vec_id", cents, q, k=10, nprobe=3)
    # exact ranks over the full corpus (no cell pruning)
    cos = ann._cosine_udf(q)
    exact = base.select(
        "vec_id", F.round(cos(F.col("embedding")), 4).alias("sim")
    ).select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("sim"), F.asc("vec_id")))
        .alias("exact_rank"),
    )
    joined = ivf.join(exact, "vec_id", "left")
    w = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    return joined.select(
        F.row_number().over(w).alias("ivf_rank"),
        (F.col("exact_rank") <= 50).alias("in_exact_top50"),
    )


def q_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via hyperplane LSH + exact verify,
    oracle-checkable: exact copies are planted (vec_id+100000 for
    vec_id<50) whose identical hyperplane signatures guarantee candidate
    recall and cosine == 1.0; random 64-dim cross pairs stay far below
    the 0.99 threshold, so the result is exactly the planted pair set."""
    from ccspark import dedup

    emb = _load(spark, sf_dir, "embeddings").filter("vec_id < 1000").select("vec_id", "embedding")
    planted = emb.filter("vec_id < 50").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return dedup.embedding_near_dups(
        emb.unionByName(planted), "vec_id", "embedding", dim=64, threshold=0.99
    )


def q_media_features(spark, sf_dir):
    """REAL audio decode end to end: synthesize a constant-amplitude
    square-wave 16-bit-PCM WAV per document (length and amplitude
    derived from doc_id), run the actual stdlib WAV decoder through the
    multimodal feature extractor, and emit (duration, rms, peak) — a
    ±A square wave has rms == peak == A and duration n/rate, all
    exactly predictable in SQL."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ccspark import media, multimodal

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 200").select("doc_id")

    def _mk_wav(doc_id):
        import numpy as np

        out = []
        for did in doc_id:
            d = int(did)
            n = 100 + d % 50
            amp = 100 + (d * 3) % 1000
            samples = np.where(np.arange(n) % 2 == 0, amp, -amp).astype("<i2")
            out.append(media.encode_wav(samples, sample_rate=8000))
        return pd.Series(out, index=doc_id.index)

    mk_wav = pandas_udf(_mk_wav, "binary")
    payloads = docs.withColumn("payload", mk_wav(F.col("doc_id")))
    feats = multimodal.extract_features(payloads, "doc_id", "payload", media_type="audio")
    # no rounding needed: rms of a ±A square wave is exactly A in IEEE
    # double (integer squares < 2^53, exact sqrt of a perfect square),
    # and duration is the same n/8000.0 division on both engines
    return feats.select(
        "doc_id",
        "n_bytes",
        F.element_at("features", 1).alias("duration_s"),
        F.element_at("features", 2).alias("rms"),
        F.element_at("features", 3).alias("peak"),
    )


def q_media_decode(spark, sf_dir):
    """REAL image decode end to end: synthesize a constant-color PNG per
    document (dimensions and color derived from doc_id), run the actual
    stdlib PNG decoder through the multimodal feature extractor, and
    emit (width, height, mean channels) — all exactly predictable in
    SQL, so the decode is oracle-gated, not smoke-tested."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ccspark import media, multimodal

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 200").select("doc_id")

    def _mk_png(doc_id):
        import numpy as np

        out = []
        for did in doc_id:
            d = int(did)
            w, h = 4 + d % 8, 4 + (d // 8) % 8
            img = np.zeros((h, w, 3), dtype=np.uint8)
            img[:, :, 0] = d % 256
            img[:, :, 1] = (d * 7) % 256
            img[:, :, 2] = (d * 13) % 256
            out.append(media.encode_png(img))
        return pd.Series(out, index=doc_id.index)

    mk_png = pandas_udf(_mk_png, "binary")
    payloads = docs.withColumn("payload", mk_png(F.col("doc_id")))
    feats = multimodal.extract_features(payloads, "doc_id", "payload")
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.element_at("features", 1), 4).alias("mean_r"),
        F.round(F.element_at("features", 2), 4).alias("mean_g"),
        F.round(F.element_at("features", 3), 4).alias("mean_b"),
    )


def q_codecs(spark, sf_dir):
    """P14 codec surface: md5/sha256/base64/hex via built-ins."""
    from ccspark import scalar_ops

    docs = _load(spark, sf_dir, "documents")
    return scalar_ops.codec_columns(docs).select(
        "doc_id", "md5_hex", "sha256_hex", "b64", "hex_prefix"
    )


def q_ip_roundtrip(spark, sf_dir):
    """P11 IPv4 text<->int conversion round trip."""
    from ccspark import scalar_ops

    ev = _load(spark, sf_dir, "events").filter("event_id < 1000")
    ipnum = (F.col("user_id") * 99991 + F.col("event_id")) % F.lit(4294967296)
    ip = scalar_ops.int_to_ip(ipnum)
    return ev.select(
        "event_id",
        ip.alias("ip"),
        scalar_ops.ip_to_int(ip).alias("ip_int"),
    )


def q_domain_validate(spark, sf_dir):
    """P6 domain validation over derived hosts (valid dotted names, IPv4
    literals, illegal-charset and overlong variants)."""
    from ccspark import scalar_ops

    docs = _load(spark, sf_dir, "documents").select("doc_id", "source")
    host = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("source"), F.lit(".example.com")))
        .when(F.col("doc_id") % 5 == 1, F.lit("192.168.1.1"))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.col("source"), F.lit("!bad.com")))
        .when(F.col("doc_id") % 5 == 3, F.concat(F.lit("UPPER-"), F.col("source"), F.lit(".Example.COM")))
        .otherwise(F.concat(F.lit("x"), F.repeat(F.lit("a"), 300), F.lit(".com")))
    )
    return docs.select(
        "doc_id",
        host.alias("host"),
        scalar_ops.is_valid_domain(host).alias("valid"),
    )


# 20 content types spanning every branch of the MimeTypeFilter cascade:
# binary/excluded prefixes, text-primary html promotion, invalid
# extensions, +xml left/right parts, vnd./x- stripped app sets,
# truncation garbage, an embedded line terminator (Java full-match
# failure -> NO_TYPE), and NULL.  Expected dispositions are fixed by the
# reference cascade (MimeTypeFilter.java:212-330) and stated as literals
# in the oracle.
_MIME_CASES = [
    ("text/html; charset=utf-8", "ACCEPT_HTML"),
    ("application/json", "ACCEPT_TEXT"),
    ("image/png", "REJECT"),
    ("application/xhtml+xml", "ACCEPT_HTML"),
    ("application/octet-stream", "REJECT"),
    ("application/vnd.ms-excel", "ACCEPT_OTHER"),
    ("application/x-httpd-php", "ACCEPT_TEXT"),
    ("application/rdf+xml", "ACCEPT_TEXT"),
    ("chemical/x-pdb", "REJECT"),
    ("multipart/mixed", "ACCEPT_TEXT"),
    ("application/pdf", "ACCEPT_TEXT"),
    ("  Text/HTML\r", "ACCEPT_OTHER"),
    ("application/mpeg", "REJECT"),
    ("video/mp4", "REJECT"),
    ("!!garbage!!", "REJECT"),
    ("application/atom+xml", "ACCEPT_TEXT"),
    (None, "ACCEPT_OTHER"),
    ("text/vnd.wap.wml", "ACCEPT_TEXT"),
    ("application/x-shockwave-flash", "ACCEPT_OTHER"),
    ("plugin/whatever", "REJECT"),
]


def q_mime_filter(spark, sf_dir):
    """P7 MIME classification via the FULL MimeTypeFilter port
    (mime.disposition_col — the pure-Catalyst layer of the faithful
    cascade, golden-gated against the compiled reference), over 20
    disposition-distinct content types incl. vnd./x- prefixes, +xml
    suffixes, truncation and embedded-terminator cases."""
    from ccspark import mime as ccmime

    ev = _load(spark, sf_dir, "events")
    m = F.col("event_id") % 20
    mime_col = F.lit(None).cast("string")
    for i, (t, _) in enumerate(_MIME_CASES):
        if t is not None:
            mime_col = F.when(m == i, F.lit(t)).otherwise(mime_col)
    df = ev.select("event_id", mime_col.alias("mime"))
    disp = ccmime.disposition_col(F.col("mime"))
    return df.select(
        "event_id",
        "mime",
        disp.alias("disposition"),
        ccmime.is_text_type(F.col("mime")).alias("is_text"),
        ccmime.is_html_type(F.col("mime")).alias("is_html"),
    )


def q_escaped_newlines(spark, sf_dir):
    """S11 escaped-newline value codec round trip."""
    from ccspark import scalar_ops

    ev = _load(spark, sf_dir, "events").filter("event_id < 500")
    raw = F.concat(F.col("event_type"), F.lit("\n"), F.col("props"), F.lit("\t!"))
    esc = scalar_ops.escape_newlines(raw)
    return ev.select(
        "event_id",
        esc.alias("escaped"),
        (scalar_ops.unescape_newlines(esc) == raw).alias("roundtrip_ok"),
    )



_CHARSET_BY_MOD = ["utf-8", "windows-1252", "iso-8859-1"]
_SALT_BY_MOD = ["こんにちは ☃", "café—naïve", "café ñ"]


def q_charset_decode(spark, sf_dir):
    """P8 end-to-end: synthesize meta-tagged pages in three charsets from
    the documents table, run the full decode pipeline (meta sniff → full
    aliasTable → Java-parity decode → markup strip), and emit an md5 of
    the recovered text.  The oracle recomputes the expected round-tripped
    string directly in SQL — a true byte-exactness gate for the charset
    stack on non-ASCII payloads."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ccspark import text as cctext

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 300").select("doc_id", "text")

    def _roundtrip_fn(doc_id, text):
        payloads = []
        for did, txt in zip(doc_id, text):
            mod = int(did) % 3
            cs = _CHARSET_BY_MOD[mod]
            body = (
                f'<html><head><meta http-equiv="Content-Type" '
                f'content="text/html; charset={cs}"><title>d{int(did)}</title>'
                f"</head><body><p>{txt} {_SALT_BY_MOD[mod]}</p></body></html>"
            )
            payloads.append(body.encode(cctext.alias_charset(cs)))
        return cctext.extract_text_batch(pd.Series(payloads, index=doc_id.index))

    _roundtrip = pandas_udf(_roundtrip_fn, "string")

    charset = F.element_at(
        F.array(*[F.lit(c) for c in _CHARSET_BY_MOD]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        "doc_id",
        charset.alias("charset"),
        F.md5(F.encode(_roundtrip(F.col("doc_id"), F.col("text")), "UTF-8")).alias("text_md5"),
    )


# --- q_charset_detect: the DETECTOR path (no meta tag) ---------------------
# Fixed no-meta page bodies per family; the jchardet port (golden-gated
# against the compiled reference) detects these as the QUIRK labels below
# (CharsetUtils.java:190-226 assigns DoIt's return to isAscii, so pages
# whose detection completes mid-stream surface as "ASCII"; SJIS fires the
# UTF-16LE verifier).  The oracle predicts the decode output analytically:
# an "ASCII"-detected page decodes with U+FFFD per non-ASCII BYTE, so the
# expected stripped text is a pure string transform of the fixed body —
# computed below WITHOUT running the detector or any Spark code.
_DETECT_FAMILIES = [
    ("utf-8", "ドキュメント こんにちは世界 検出テスト " * 12, "ASCII"),
    ("euc_jp", "日本語の文書です。文字コード判定試験。" * 12, "ASCII"),
    ("euc_kr", "한국어 문서입니다 문자 인코딩 판별 시험 " * 12, "ASCII"),
    ("shift_jis", "日本語の文書です。文字コード判定試験。" * 12, "UTF-16LE"),
]


def _detect_expected_prefix(enc: str, body: str) -> str:
    """Expected extract_text output prefix for an ASCII-detected page:
    each non-ASCII char -> one U+FFFD per encoded byte, whitespace
    collapsed; the page text is this prefix + the doc id digits."""
    import re as _re

    moji = "".join(
        ch if ord(ch) < 128 else "�" * len(ch.encode(enc)) for ch in body
    )
    return _re.sub(r"\s+", " ", moji).strip() + " doc "


def q_charset_detect(spark, sf_dir):
    """P8 detector path (no meta tag): synthesize META-LESS pages in four
    encodings from the documents table, run the VECTORIZED jchardet port
    (chardet.detect_batch) + the full decode pipeline, and emit the
    detected label and an md5 of the extracted text.  The oracle states
    the expected quirk labels and computes the expected mojibake text
    analytically — a true end-to-end gate on the detector (the hard part
    of CharsetUtils, exercised before only by pytest goldens)."""
    import hashlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ccspark import chardet as ccdet
    from ccspark import text as cctext

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 400").select("doc_id")

    def _detect_fn(doc_id):
        payloads = []
        fams = []
        for did in doc_id:
            enc, body, _ = _DETECT_FAMILIES[int(did) % 4]
            fams.append(int(did) % 4)
            payloads.append(
                f"<html><body><p>{body} doc {int(did)}</p></body></html>".encode(enc)
            )
        detected = ccdet.detect_batch(payloads)
        extracted = cctext.extract_text_batch(pd.Series(payloads, index=doc_id.index))
        md5s = [
            hashlib.md5(t.encode("utf-8")).hexdigest() if f != 3 and t is not None else None
            for f, t in zip(fams, extracted)
        ]
        return pd.DataFrame(
            {"detected": detected, "text_md5": md5s}, index=doc_id.index
        )

    _detect = pandas_udf(_detect_fn, "detected string, text_md5 string")
    r = docs.select("doc_id", _detect(F.col("doc_id")).alias("_r"))
    return r.select(
        "doc_id",
        F.col("_r.detected").alias("detected"),
        F.col("_r.text_md5").alias("text_md5"),
    )


# shared passages appended to doc_id<30 (variant by doc_id%3, 12 marker
# tokens each) guarantee cross-doc duplicated windows at every sf; the
# oracle is a FULL independent DuckDB implementation of the operator,
# so natural word-soup collisions are covered too
_DUP_PASSAGES = [
    " ".join(f"dup{v}tok{i}" for i in range(12)) for v in range(3)
]


def q_substring_dedup(spark, sf_dir):
    """Exact-substring duplication (Lee et al. 2022 family): per doc,
    the number of 8-token windows appearing verbatim in another doc —
    tokenize → sliding windows (pure Catalyst transform/sequence) →
    xxhash64 window keys → one distinct-doc groupBy → semi-join back.
    The oracle reimplements the whole operator in DuckDB over the same
    derived corpus (list comprehensions + unnest), so every count is
    independently recomputed."""
    from ccspark import dedup

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 500")
    passage = F.element_at(
        F.array(*[F.lit(p) for p in _DUP_PASSAGES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    derived = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") < 30, F.concat(F.lit(" "), passage)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return dedup.substring_dup_counts(derived, "doc_id", "text", k=8, hashed=True)


def q_schedule_round(spark, sf_dir):
    """The full politeness pipeline (J2 robots broadcast gate + J3/W1
    crawl-delay budget + W4 two-stage salted rank) oracled end to end:
    derived candidates over 40 hosts with a 10-host robots table
    (disallow prefix + binding crawl-delay), scheduled by
    politeness.process_round (its host_rank IS NOT NULL rows); the
    oracle REIMPLEMENTS the whole gate
    in SQL (LIKE prefix filter, CASE budget, ROW_NUMBER window) — the
    salted rank provably equals the unsalted one."""
    from ccspark import politeness

    ev = _load(spark, sf_dir, "events").filter("event_id < 3000")
    host = F.concat(F.lit("h"), (F.col("event_id") % 40).cast("string"), F.lit(".com"))
    path = F.element_at(
        F.array(
            F.lit("/a"), F.lit("/private/x"), F.lit("/b"), F.lit("/private"), F.lit("/c/d")
        ),
        (F.col("event_id") % 5 + 1).cast("int"),
    )
    cands = ev.select(
        F.concat(F.lit("http://"), host, path).alias("canonical_url"),
        ((F.col("event_id") % 100) / 100.0).alias("priority"),
        (F.col("event_id") % 40).alias("domain_hash"),
        F.col("event_id").alias("url_hash"),
    )
    robots = spark.createDataFrame(
        [(f"h{i}.com", ["/private"], 20000, None) for i in range(0, 40, 4)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long, max_fetches_per_round int",
    )
    proc = politeness.process_round(
        cands, robots, default_budget=5, round_duration_ms=60_000, n_salts=4
    )
    return proc.filter(F.col("host_rank").isNotNull()).select(
        "host", "host_rank", "url_hash", "priority"
    )


def q_link_extract(spark, sf_dir):
    """HTML out-link extraction + RFC 3986 resolution + canonical
    identity, oracled: per doc a page with six hrefs (absolute-path,
    relative, dot-segment, external with &amp; entity, fragment-only,
    javascript:) — the last two must be dropped, the rest resolve and
    canonicalize to closed-form URLs the oracle rebuilds in SQL."""
    from ccspark import links

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 200").select("doc_id")
    d = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 20).cast("string")
    base = F.concat(F.lit("http://www.s"), k, F.lit(".example.com/dir/page"), d, F.lit(".html"))
    html = F.concat(
        F.lit('<html><body><a href="/abs/'), d, F.lit('">a</a>'),
        F.lit("<a href='rel"), d, F.lit("'>b</a>"),
        F.lit('<a href="../up'), d, F.lit('">c</a>'),
        F.lit('<a href="https://ext'), (F.col("doc_id") % 7).cast("string"),
        F.lit('.com/p?a=1&amp;b=2">d</a>'),
        F.lit('<a href="#frag">e</a><a href="javascript:void(0)">f</a>'),
        F.lit("</body></html>"),
    )
    pages = docs.select(base.alias("url"), html.alias("html"))
    out = links.page_links(pages, "url", "html")
    return out.select("url", "link", "canonical_url", "url_valid")


def q_link_resolve(spark, sf_dir):
    """The byte-matrix RFC 3986 resolver (links.resolve_batch) oracled
    across all seven vector classes — absolute same/different scheme,
    scheme-relative, root-relative, query-only, path-relative merge,
    leading-"../" parent walk — each resolvable in closed form the
    oracle rebuilds with SQL string concatenation."""
    from pyspark.sql.functions import pandas_udf

    from ccspark import links

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 700").select("doc_id")
    d = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("http://h"), (F.col("doc_id") % 50).cast("string"), F.lit(".com/a/b/c.html")
    )
    cls = (F.col("doc_id") % 7).cast("int")
    href = F.element_at(
        F.array(
            F.concat(F.lit("ftp://ext"), d, F.lit(".com/f")),      # other scheme
            F.concat(F.lit("http://abs"), d, F.lit(".com/p")),     # same scheme
            F.concat(F.lit("//cdn"), d, F.lit(".com/x.js")),       # scheme-relative
            F.concat(F.lit("/r/"), d),                             # root-relative
            F.concat(F.lit("?q="), d),                             # query-only
            F.concat(F.lit("p"), d, F.lit(".html")),               # path-relative
            F.concat(F.lit("../u"), d),                            # parent walk
        ),
        cls + 1,
    )

    def _resolve_fn(b, h):
        return links.resolve_batch(b, h)

    resolve = pandas_udf(_resolve_fn, "string")
    return docs.select(
        "doc_id",
        cls.alias("cls"),
        href.alias("href"),
        resolve(base, href).alias("link"),
    )


def q_line_dedup(spark, sf_dir):
    """C4-style corpus-wide line dedup oracled: docs synthesized as
    3 '|'-separated lines where the middle line is shared boilerplate
    (5 variants across 500 docs); lines appearing in >2 documents are
    dropped and documents rebuilt in order.  The oracle is a full
    DuckDB reimplementation (string_split + distinct doc counts + list
    comprehension rebuild)."""
    from ccspark import textops

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 500")
    d = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("doc"), d, F.lit(" "), F.substring("text", 1, 30),
        F.lit("|boiler "), (F.col("doc_id") % 5).cast("string"),
        F.lit("|tail "), d,
    )
    src = docs.select("doc_id", text.alias("text"))
    out = textops.remove_repeated_lines(
        src, "doc_id", "text", sep="|", max_occurrences=2
    )
    return out.select("doc_id", "text", "n_lines_kept", "n_lines_dropped")


def q_pii_scrub(spark, sf_dir):
    """Training-corpus PII redaction oracled: one planted email, IPv4,
    and phone number per document, scrubbed to typed tokens with match
    counts; patterns are lookaround-free so DuckDB runs them verbatim."""
    from ccspark import textops

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 500")
    d = F.col("doc_id").cast("string")
    text = F.concat(
        F.substring("text", 1, 40),
        F.lit(" u"), d, F.lit("@ex"), (F.col("doc_id") % 7).cast("string"), F.lit(".org"),
        F.lit(" +1 555-"), (1000 + F.col("doc_id") % 9000).cast("string"),
        F.lit(" 10."), (F.col("doc_id") % 250).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 200).cast("string"),
    )
    src = docs.select("doc_id", text.alias("text"))
    out = textops.scrub_pii(src, "text")
    return out.select("doc_id", "text", "n_email", "n_ip", "n_phone")


def q_c4_gate(spark, sf_dir):
    """C4-style document filter oracled: too-short, blocked-URL-term,
    bad-word, and language gates with first-failing-reason semantics
    (rule order is part of the contract)."""
    from ccspark import textops

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 1000")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("http://h"), (d % 50).cast("string"), F.lit(".com/"),
        F.when(d % 13 == 0, F.lit("casino/")).otherwise(F.lit("a/")),
        d.cast("string"),
    )
    text = (
        F.when(d % 11 == 0, F.lit("short text"))
        .when(d % 7 == 0, F.concat(F.col("text"), F.lit(" lorem")))
        .otherwise(F.col("text"))
    )
    src = docs.select("doc_id", text.alias("text"), url.alias("url"), "lang")
    out = textops.c4_document_gate(
        src, "text", url_col="url", lang_col="lang", min_words=5
    )
    return out.select("doc_id", "keep", "drop_reason")


def q_cdx_surt(spark, sf_dir):
    """CDX/SURT index generation oracled: derived captures → SURT keys
    (lowercase, scheme/www-stripped, reversed comma-joined host labels)
    + the 9-field CDX line; the oracle rebuilds both in SQL
    (string_split + list_reverse + concat)."""
    from ccspark import cdx

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 300")
    caps = docs.select(
        F.concat(
            F.lit("https://WWW."), F.upper(F.col("source")), F.lit(".Example.com/Doc/"),
            F.col("doc_id").cast("string"), F.lit("?v=1"),
        ).alias("url"),
        F.lit("2024-02-03 04:05:06").cast("timestamp").alias("warc_ts"),
        F.lit("text/html").alias("mime"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("digest"),
        (F.col("doc_id") * 100 + 7).alias("record_len"),
        (F.col("doc_id") * 1000).alias("arc_offset"),
        F.lit("crawl-00.arc.gz").alias("arc_file"),
        F.col("doc_id"),
    )
    out = cdx.cdx_lines(caps)
    return caps.select("doc_id").join(
        out.withColumn("doc_id", F.regexp_extract("cdx", r"/doc/(\d+)\?", 1).cast("long")),
        "doc_id",
    ).select("doc_id", "surt", "ts14", "cdx")


def q_sitemap_extract(spark, sf_dir):
    """Sitemap ingestion oracled: per doc a deterministic sitemap XML
    (3 <url> entries, priority present on every 2nd, lastmod on every
    3rd) is synthesized IN SQL-reproducible form and parsed by the
    pure-Catalyst extractor; the oracle rebuilds the expected exploded
    rows arithmetically."""
    from ccspark import sitemaps

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 200").select("doc_id")
    d = F.col("doc_id")

    def entry(j):
        loc = F.concat(
            F.lit("<loc> https://s"), (d % 20).cast("string"),
            F.lit(".example.com/p/"), (d * 3 + j).cast("string"), F.lit(" </loc>")
        )
        pri = F.when(
            (d + j) % 2 == 0,
            F.concat(F.lit("<priority>0."), ((d + j) % 9 + 1).cast("string"), F.lit("</priority>")),
        ).otherwise(F.lit(""))
        lm = F.when(
            (d + j) % 3 == 0, F.lit("<lastmod>2024-01-15</lastmod>")
        ).otherwise(F.lit(""))
        return F.concat(F.lit("<url>"), loc, pri, lm, F.lit("</url>"))

    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        entry(0), entry(1), entry(2),
        F.lit("</urlset>"),
    )
    src = docs.select("doc_id", xml.alias("xml"))
    return sitemaps.extract_sitemap_entries(src, "doc_id", "xml")


def q_warc_roundtrip(spark, sf_dir):
    """WARC source oracled like q_arc_roundtrip: documents written into
    real in-memory .warc.gz files (gzip member per record, WARC/1.0
    header block, HTTP response payload) and parsed back through the
    WARC record/HTTP splitter; the oracle recomputes url, status,
    content type and body md5 from the documents table."""
    import hashlib

    import pandas as pd

    from ccspark import warc

    docs = (
        _load(spark, sf_dir, "documents")
        .filter("doc_id < 300")
        .select("doc_id", "source", F.coalesce(F.col("text"), F.lit("")).alias("text"))
    )

    def _rt(batches):
        for pdf in batches:
            recs = []
            for did, src, txt in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                body = f"<html><body>{txt}</body></html>".encode("utf-8")
                recs.append(
                    dict(
                        warc_type="response",
                        url=f"http://{src}.example.com/doc/{int(did)}",
                        payload=warc.build_http_response(
                            body, headers=[("Content-Type", "text/html")]
                        ),
                    )
                )
            blob = warc.write_warc_bytes(recs)
            rows = [
                {
                    "url": rec["url"],
                    "http_status": rec["http_status"],
                    "content_type": rec["content_type"],
                    "body_md5": hashlib.md5(rec["payload"]).hexdigest(),
                }
                for rec in warc.read_warc_bytes(blob, "q.warc.gz")
                if rec["warc_type"] == "response"
            ]
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        _rt,
        schema="url string, http_status int, content_type string, body_md5 string",
    )


def q_gzip_besteffort(spark, sf_dir):
    """P9 GZIPUtils.unzipBestEffort oracled: per doc, the full gzip
    round-trip must recover the exact text (md5-compared in SQL), and a
    payload truncated mid-stream must still decode a prefix (never
    throw) with the truncation flag set — the reference's best-effort
    contract (GZIPUtils.java:56-114)."""
    import gzip as _gz
    import hashlib

    import pandas as pd

    from ccspark import text as cctext

    docs = (
        _load(spark, sf_dir, "documents")
        .filter("doc_id < 300")
        .select("doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text"))
    )

    def _rt(batches):
        for pdf in batches:
            rows = []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                raw = txt.encode("utf-8")
                blob = _gz.compress(raw, 6)
                full, full_trunc = cctext.unzip_best_effort(blob)
                part, part_trunc = cctext.unzip_best_effort(blob[: max(12, len(blob) // 2)])
                rows.append(
                    {
                        "doc_id": int(did),
                        "full_md5": hashlib.md5(full).hexdigest(),
                        "full_truncated": bool(full_trunc),
                        "partial_ok": bool(part_trunc) and len(part) <= len(raw),
                    }
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        _rt,
        schema="doc_id long, full_md5 string, full_truncated boolean, partial_ok boolean",
    )


def q_arc_roundtrip(spark, sf_dir):
    """S1-S4 ARC stack oracled end to end: per Arrow batch, documents
    are written into a real in-memory ARC file (gzip member per record,
    metadata line, HTTP header block) and parsed back through the S1
    scanner / S2 record assembly / S3 metadata parse / S4 header split;
    the oracle recomputes url, mime, record length (27-byte fixed
    header block + utf-8 payload length) and the payload md5 straight
    from the documents table."""
    import hashlib

    import pandas as pd

    from ccspark import arc

    docs = (
        _load(spark, sf_dir, "documents")
        .filter("doc_id < 300")
        .select("doc_id", "source", F.coalesce(F.col("text"), F.lit("")).alias("text"))
    )

    def _rt(batches):
        for pdf in batches:
            recs = []
            for did, src, txt in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                url = f"http://{src}.example.com/doc/{int(did)}"
                payload = f"<html><body>{txt}</body></html>".encode("utf-8")
                recs.append(
                    dict(url=url, payload=payload, headers=[("Content-Type", " text/html")])
                )
            blob = arc.write_arc_bytes(recs)
            rows = [
                {
                    "url": rec["url"],
                    "mime": rec["mime"],
                    "record_len": int(rec["record_len"]),
                    "n_headers": len(rec["headers"]),
                    "payload_md5": hashlib.md5(rec["payload"]).hexdigest(),
                }
                for rec in arc.read_arc_bytes(blob, "q.arc.gz")
            ]
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        _rt,
        schema="url string, mime string, record_len long, n_headers int, payload_md5 string",
    )


# Fixed RFC 9309 robots.txt + 14 path families with expected decisions
# (longest-match precedence, Allow on ties, '*'/'$' patterns).  The
# expectations are fixed by the RFC rules themselves and verified by
# the golden-tested parser at authoring time.
_ROBOTS_RFC_TXT = (
    "User-agent: *\n"
    "Disallow: /private\n"
    "Allow: /private/public\n"
    "Disallow: /*.pdf$\n"
    "Allow: /downloads/\n"
    "Disallow: /tmp*\n"
    "Allow: /a/*/c\n"
    "Disallow: /a\n"
    "Crawl-delay: 2\n"
)
_ROBOTS_RFC_PATHS = [
    ("/", True), ("/ok", True), ("/private/x", False),
    ("/private/public/y", True), ("/doc.pdf", False),
    ("/downloads/doc.pdf", True), ("/tmpfile", False), ("/tmp/x", False),
    ("/a/b/c", True), ("/a/b", False), ("/a", False), ("/downloads/", True),
    ("/private", False), ("/b.pdfx", True),
]


def q_robots_rfc(spark, sf_dir):
    """W3 robots gating oracled directly: a fixed RFC 9309 rules file
    (Allow precedence, '*' and '$' patterns, longest-match ties) is
    parsed into the rules table and evaluated over 14 path families by
    the pure-Catalyst longest-match fold (politeness.robots_gate)
    — plus the crawl-delay-derived per-round budget.  The oracle states
    the per-family decisions as literals fixed by the RFC itself."""
    from ccspark import politeness

    ev = _load(spark, sf_dir, "events").filter("event_id < 2000")
    path = F.element_at(
        F.array(*[F.lit(p) for p, _ in _ROBOTS_RFC_PATHS]),
        (F.col("event_id") % len(_ROBOTS_RFC_PATHS) + 1).cast("int"),
    )
    cand = ev.select("event_id", F.lit("site.example.com").alias("host"), path.alias("path"))
    robots_src = spark.createDataFrame(
        [("site.example.com", _ROBOTS_RFC_TXT)], "host string, robots_txt string"
    )
    rules = politeness.robots_rules_table(robots_src)
    gated = politeness.robots_gate(cand, rules)
    budgeted = politeness.with_budget(gated, default_budget=100, round_duration_ms=60_000)
    return budgeted.select("event_id", "path", "robots_allowed", "budget")


def q_rice_codec(spark, sf_dir):
    """H8 Rice/Golomb coding end to end: per supplier, delta-encode the
    sorted orderkey posting list (m=4), ROUND-TRIP it through the
    reference-exact codec, and emit the posting count, the encoded bit
    count, and the roundtrip verdict.  The oracle computes the bit
    count in closed form — per gap, 1 (stop) + m + (gap >> m) — over
    the same lag-derived gaps, and expects roundtrip_ok true."""
    import pandas as pd

    from ccspark import ricecoder

    li = _load(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")

    def _code(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["l_orderkey"].sort_values(kind="mergesort").to_numpy()
        import numpy as np

        gaps = np.diff(keys, prepend=np.int64(0))
        nbits, blob = ricecoder.encode(gaps, 4, signed=False)
        back = ricecoder.decode(nbits, blob, len(gaps), 4, signed=False)
        return pd.DataFrame(
            {
                "l_suppkey": [int(pdf["l_suppkey"].iloc[0])],
                "n_postings": [len(keys)],
                "total_bits": [int(nbits)],
                "roundtrip_ok": [bool((back == gaps).all())],
            }
        )

    return li.groupBy("l_suppkey").applyInPandas(
        _code,
        schema="l_suppkey long, n_postings long, total_bits long, roundtrip_ok boolean",
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-family repetition quality signals (duplicate-token mass,
    top-bigram fraction) over the documents table — pure Catalyst; the
    oracle reimplements both statistics independently in DuckDB."""
    from ccspark import textops

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 500").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    return textops.repetition_stats(docs, "doc_id", "text")


def q_media_png_filters(spark, sf_dir):
    """PNG filter-reconstruction paths (Sub/Up/Average/Paeth wavefront)
    oracled end to end: per document, a grayscale GRADIENT image
    (pixel = c0 + x + w*y, values < 256 by construction) is encoded
    with per-row CYCLING filter types (row y uses (doc_id + y) % 5),
    decoded by the vectorized reconstruction, and its mean emitted —
    the gradient mean c0 + (w-1)/2 + w*(h-1)/2 is a multiple of 0.5,
    so the comparison is exact (no rounding)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ccspark import media, multimodal

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 200").select("doc_id")

    def _mk_png(doc_id):
        out = []
        for did in doc_id:
            d = int(did)
            w, h = 4 + d % 8, 4 + (d // 8) % 8
            c0 = d % 128
            img = (c0 + np.arange(w)[None, :] + w * np.arange(h)[:, None]).astype(
                np.uint8
            )
            fts = [(d + y) % 5 for y in range(h)]
            out.append(media.encode_png(img, row_filters=fts))
        return pd.Series(out, index=doc_id.index)

    mk = pandas_udf(_mk_png, "binary")
    payloads = docs.withColumn("payload", mk(F.col("doc_id")))
    feats = multimodal.extract_features(payloads, "doc_id", "payload")
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.element_at("features", 1).alias("mean_gray"),
    )


def q_media_jpeg(spark, sf_dir):
    """REAL JPEG decode end to end: synthesize a constant-gray JFIF per
    document (dimensions and gray level derived from doc_id) — BASELINE
    sequential for even doc_ids, PROGRESSIVE (SOF2, spectral-selection
    scans) for odd ones — run the pure-numpy LUT-huffman+DCT decoder
    through the multimodal feature extractor, and emit (width, height,
    mean).  A constant block is DC-only, so with the flat q=8 table both
    codings decode EXACTLY to the same pixels and one SQL oracle covers
    them."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ccspark import jpeg as ccjpeg
    from ccspark import multimodal

    docs = _load(spark, sf_dir, "documents").filter("doc_id < 200").select("doc_id")

    def _mk_jpeg(doc_id):
        out = []
        for did in doc_id:
            d = int(did)
            w, h = 8 + d % 9, 8 + (d // 9) % 9
            img = np.full((h, w), (d * 7) % 256, np.uint8)
            enc = ccjpeg.encode_jpeg if d % 2 == 0 else ccjpeg.encode_jpeg_progressive
            out.append(enc(img))
        return pd.Series(out, index=doc_id.index)

    mk = pandas_udf(_mk_jpeg, "binary")
    payloads = docs.withColumn("payload", mk(F.col("doc_id")))
    feats = multimodal.extract_features(payloads, "doc_id", "payload")
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.element_at("features", 1).alias("mean_gray"),
    )


def q_ewma(spark, sf_dir):
    """A7 SmoothedAverage analog: per-user EWMA (alpha=0.3) of event
    values via applyInPandas (sequential recurrence per group; rows-only
    check — not expressible in portable ANSI SQL)."""
    import pandas as pd

    ev = _load(spark, sf_dir, "events")

    def _ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        vals = pdf["value"].to_numpy(dtype="float64")
        out = vals.copy()
        s = 0.0
        for i, x in enumerate(vals):
            # explicit s = 0.3*x + 0.7*s recurrence: bit-identical to the
            # recursive-CTE oracle (pandas .ewm divides by (0.3+0.7) which
            # is 1-ulp off 1.0 and drifts from the plain recurrence)
            s = x if i == 0 else 0.3 * x + 0.7 * s
            out[i] = s
        import numpy as np

        # floor(x*1e4 + 0.5)/1e4: identical on both engines given the
        # bit-identical recurrence (ROUND tie behavior differs: Python
        # half-even vs DuckDB half-away)
        pdf["ewma"] = np.floor(out * 10000.0 + 0.5) / 10000.0
        return pdf[["event_id", "user_id", "ewma"]]

    return ev.groupBy("user_id").applyInPandas(
        _ewma, schema="event_id long, user_id long, ewma double"
    )



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_scan_filter": q_scan_filter,
        "q_agg_pricing": q_agg_pricing,
        "q_join_agg": q_join_agg,
        "q_topk": q_topk,
        "q_pagination": q_pagination,
        "q_politeness_rank": q_politeness_rank,
        "q_moving_avg": q_moving_avg,
        "q_histogram": q_histogram,
        "q_distinct": q_distinct,
        "q_set_ops": q_set_ops,
        "q_dedup_exact": q_dedup_exact,
        "q_token_count": q_token_count,
        "q_text_quality": q_text_quality,
        "q_urlfp_dedup": q_urlfp_dedup,
        "q_ann_cosine_topk": q_ann_cosine_topk,
        "q_quality_score": q_quality_score,
        "q_bpe_tokens": q_bpe_tokens,
        "q_jaccard_3gram": q_jaccard_3gram,
        "q_binary_meta": q_binary_meta,
        "q_langid": q_langid,
        "q_minhash_lsh": q_minhash_lsh,
        "q_dedup_clusters": q_dedup_clusters,
        "q_pagerank": q_pagerank,
        "q_lm_score": q_lm_score,
        "q_authority_schedule": q_authority_schedule,
        "q_simhash_near_dup": q_simhash_near_dup,
        "q_simhash_dup": q_simhash_dup,
        "q_doc_fingerprint": q_doc_fingerprint,
        "q_ann_ivf": q_ann_ivf,
        "q_ann_ivf_full": q_ann_ivf_full,
        "q_embed_near_dup": q_embed_near_dup,
        "q_media_features": q_media_features,
        "q_media_decode": q_media_decode,
        "q_codecs": q_codecs,
        "q_ip_roundtrip": q_ip_roundtrip,
        "q_domain_validate": q_domain_validate,
        "q_mime_filter": q_mime_filter,
        "q_escaped_newlines": q_escaped_newlines,
        "q_charset_decode": q_charset_decode,
        "q_charset_detect": q_charset_detect,
        "q_media_jpeg": q_media_jpeg,
        "q_media_video": q_media_video,
        "q_media_png_filters": q_media_png_filters,
        "q_substring_dedup": q_substring_dedup,
        "q_repetition_stats": q_repetition_stats,
        "q_rice_codec": q_rice_codec,
        "q_robots_rfc": q_robots_rfc,
        "q_arc_roundtrip": q_arc_roundtrip,
        "q_gzip_besteffort": q_gzip_besteffort,
        "q_schedule_round": q_schedule_round,
        "q_warc_roundtrip": q_warc_roundtrip,
        "q_sitemap_extract": q_sitemap_extract,
        "q_cdx_surt": q_cdx_surt,
        "q_link_extract": q_link_extract,
        "q_link_resolve": q_link_resolve,
        "q_line_dedup": q_line_dedup,
        "q_pii_scrub": q_pii_scrub,
        "q_c4_gate": q_c4_gate,
        "q_ewma": q_ewma,
    }


# Shared DuckDB CTE chain: the 3-iteration PageRank both q_pagerank and
# q_authority_schedule oracles re-derive (ONE definition — a drift
# between the two would send the parity suite chasing a phantom engine
# bug; the demo graph has no dangling nodes, so the dmass term the
# Spark operator supports is provably zero here and the SQL omits it)
_PAGERANK_CTES = (
    "edges AS (SELECT doc_id AS s, (doc_id*37+11)%200 AS d "
    "  FROM documents WHERE doc_id < 400), "
    "nodes AS (SELECT s AS node FROM edges UNION SELECT d FROM edges), "
    "params AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes), "
    "deg AS (SELECT s, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY s), "
    "r0 AS (SELECT node, 1.0/(SELECT n FROM params) AS rank FROM nodes), "
    "i1 AS (SELECT nd.node, (1.0-0.85)/(SELECT n FROM params) "
    "  + 0.85*COALESCE(SUM(r.rank/dg.outdeg), 0.0) AS rank "
    "  FROM nodes nd LEFT JOIN edges e ON e.d = nd.node "
    "  LEFT JOIN r0 r ON r.node = e.s LEFT JOIN deg dg ON dg.s = e.s "
    "  GROUP BY nd.node), "
    "i2 AS (SELECT nd.node, (1.0-0.85)/(SELECT n FROM params) "
    "  + 0.85*COALESCE(SUM(r.rank/dg.outdeg), 0.0) AS rank "
    "  FROM nodes nd LEFT JOIN edges e ON e.d = nd.node "
    "  LEFT JOIN i1 r ON r.node = e.s LEFT JOIN deg dg ON dg.s = e.s "
    "  GROUP BY nd.node), "
    "i3 AS (SELECT nd.node, (1.0-0.85)/(SELECT n FROM params) "
    "  + 0.85*COALESCE(SUM(r.rank/dg.outdeg), 0.0) AS rank "
    "  FROM nodes nd LEFT JOIN edges e ON e.d = nd.node "
    "  LEFT JOIN i2 r ON r.node = e.s LEFT JOIN deg dg ON dg.s = e.s "
    "  GROUP BY nd.node)"
)


def oracle_sql() -> dict[str, str]:
    return {
        "q_scan_filter": (
            "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem "
            "WHERE l_quantity < 5 AND l_shipdate < TIMESTAMP '1996-01-01'"
        ),
        "q_agg_pricing": (
            "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, "
            "ROUND(SUM(l_extendedprice), 1) AS sum_price, ROUND(AVG(l_discount), 4) AS avg_disc, "
            "COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "q_join_agg": (
            "SELECT n_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 1) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
        ),
        "q_topk": (
            "SELECT o_orderkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
        ),
        "q_pagination": (
            "SELECT o_orderkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 20"
        ),
        "q_politeness_rank": (
            "SELECT user_id, event_id, rn FROM (SELECT user_id, event_id, "
            "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn "
            "FROM events) WHERE rn <= 3"
        ),
        "q_moving_avg": (
            "SELECT event_id, user_id, ROUND(SUM(value) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 2) AS msum, "
            "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS mcnt FROM events"
        ),
        "q_histogram": (
            "SELECT event_type, COUNT(*) AS cnt, ROUND(AVG(value), 2) AS avg_value "
            "FROM events GROUP BY event_type"
        ),
        "q_distinct": (
            "SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type"
        ),
        "q_set_ops": (
            "SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 100 "
            "EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 300"
        ),
        "q_dedup_exact": (
            "SELECT MD5(text) AS text_md5, COUNT(*) AS cnt, MIN(doc_id) AS keeper_doc_id "
            "FROM documents GROUP BY MD5(text)"
        ),
        "q_token_count": (
            "SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tokens FROM documents"
        ),
        "q_text_quality": (
            "SELECT lang, COUNT(*) AS cnt, ROUND(AVG(LENGTH(text)), 2) AS avg_len, "
            "ROUND(AVG(LEN(STRING_SPLIT(text, ' '))), 2) AS avg_tokens FROM documents GROUP BY lang"
        ),
        "q_urlfp_dedup": (
            "SELECT source || '.example.com' AS host, COUNT(DISTINCT doc_id) AS n_urls "
            "FROM documents GROUP BY source || '.example.com'"
        ),
        "q_ann_cosine_topk": (
            "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) "
            "SELECT e.vec_id, ROUND(CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
            "CAST(q.qe AS DOUBLE[])) AS DOUBLE), 4) AS sim "
            "FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY sim DESC, e.vec_id LIMIT 10"
        ),
        "q_quality_score": (
            "SELECT doc_id, "
            "ROUND((length(text) - length(replace(text, ' ', '')))::DOUBLE / greatest(length(text), 1), 4) AS space_ratio, "
            "ROUND((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4) AS punct_ratio, "
            "ROUND(length(replace(text, ' ', ''))::DOUBLE / greatest(len(string_split(text, ' ')), 1), 4) AS mean_token_len "
            "FROM documents"
        ),
        "q_bpe_tokens": (
            "SELECT doc_id, list_sum([CASE WHEN regexp_matches(w, '^[A-Za-z]+$') "
            "THEN CAST(ceil(length(w)/4.0) AS BIGINT) ELSE 1 END "
            "for w in regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]')])::BIGINT AS bpe_tokens "
            "FROM documents"
        ),
        "q_jaccard_3gram": (
            "WITH s AS (SELECT doc_id, list_distinct([substring(text, i::int, 3) "
            "for i in generate_series(1, greatest(length(text)-2, 0))]) sh "
            "FROM documents WHERE doc_id < 10 AND length(text) >= 3) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh)), 4) AS jaccard "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id"
        ),
        "q_binary_meta": (
            "SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes, sha256(text) AS digest FROM documents"
        ),
        "q_codecs": (
            "SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex, "
            "base64(CAST(text AS BLOB)) AS b64, hex(substring(text, 1, 4)) AS hex_prefix FROM documents"
        ),
        "q_ip_roundtrip": (
            "WITH t AS (SELECT event_id, (user_id * 99991 + event_id) % 4294967296 AS n "
            "FROM events WHERE event_id < 1000), "
            "ips AS (SELECT event_id, CAST(floor(n / 16777216) AS BIGINT) || '.' || "
            "CAST(floor(n / 65536) % 256 AS BIGINT) || '.' || CAST(floor(n / 256) % 256 AS BIGINT) "
            "|| '.' || CAST(n % 256 AS BIGINT) AS ip FROM t) "
            "SELECT event_id, ip, "
            "CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216 + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536 "
            "+ CAST(string_split(ip, '.')[3] AS BIGINT) * 256 + CAST(string_split(ip, '.')[4] AS BIGINT) AS ip_int "
            "FROM ips"
        ),
        "q_domain_validate": (
            "WITH t AS (SELECT doc_id, CASE CAST(doc_id % 5 AS INT) "
            "WHEN 0 THEN source || '.example.com' "
            "WHEN 1 THEN '192.168.1.1' "
            "WHEN 2 THEN source || '!bad.com' "
            "WHEN 3 THEN 'UPPER-' || source || '.Example.COM' "
            "ELSE 'x' || repeat('a', 300) || '.com' END AS host FROM documents) "
            "SELECT doc_id, host, length(host) <= 255 AND ("
            r"regexp_matches(lower(host), '^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$') OR ("
            r"NOT regexp_matches(lower(host), '[^0-9a-z\-\._]') "
            "AND len(string_split(lower(host), '.')) <= 128)) AS valid FROM t"
        ),
        "q_mime_filter": (
            "WITH m AS (SELECT event_id, CASE CAST(event_id % 20 AS INT) "
            + " ".join(
                "WHEN {} THEN {}".format(
                    i,
                    "NULL"
                    if t is None
                    else "'" + t.replace("\r", "' || chr(13) || '") + "'",
                )
                for i, (t, _) in enumerate(_MIME_CASES)
            )
            + " END AS mime, CASE CAST(event_id % 20 AS INT) "
            + " ".join(
                f"WHEN {i} THEN '{d}'" for i, (_, d) in enumerate(_MIME_CASES)
            )
            + " END AS disposition FROM events) "
            "SELECT event_id, mime, disposition, "
            "disposition IN ('ACCEPT_TEXT', 'ACCEPT_HTML') AS is_text, "
            "disposition = 'ACCEPT_HTML' AS is_html FROM m"
        ),
        "q_escaped_newlines": (
            "WITH t AS (SELECT event_id, event_type || chr(10) || props || chr(9) || '!' AS raw "
            "FROM events WHERE event_id < 500) "
            "SELECT event_id, replace(replace(replace(raw, chr(13), ''), "
            "chr(10), '\\n'), chr(9), '\\t') AS escaped, TRUE AS roundtrip_ok FROM t"
        ),
        "q_minhash_lsh": (
            "SELECT doc_id AS id_a, doc_id + 10000 AS id_b, 1.0 AS est_jaccard "
            "FROM documents WHERE doc_id < 50"
        ),
        "q_authority_schedule": (
            "WITH " + _PAGERANK_CTES + ", "
            "ranks AS (SELECT node AS host, ROUND(rank, 10) AS rank FROM i3), "
            "prio AS (SELECT c.doc_id, c.host, ROUND(r.rank * c.n_chars, 10) AS priority "
            "  FROM (SELECT doc_id, doc_id % 200 AS host, n_chars FROM documents "
            "        WHERE doc_id < 2000) c JOIN ranks r ON r.host = c.host) "
            "SELECT host, doc_id, priority, rn FROM "
            "(SELECT host, doc_id, priority, ROW_NUMBER() OVER "
            " (PARTITION BY host ORDER BY priority DESC, doc_id) AS rn FROM prio) "
            "WHERE rn <= 3"
        ),
        "q_lm_score": (
            "WITH d AS (SELECT doc_id, coalesce(text, '') AS s FROM documents "
            "  WHERE doc_id < 500), "
            "ref_bg AS (SELECT unnest([substring(s, i, 2) "
            "  for i in generate_series(1, length(s) - 1)]) AS bg "
            "  FROM d WHERE doc_id < 100 AND length(s) >= 2), "
            "lm AS (SELECT bg, CAST(COUNT(*) AS DOUBLE) AS c FROM ref_bg GROUP BY bg), "
            "tot AS (SELECT SUM(c) AS n_tokens, CAST(COUNT(*) AS DOUBLE) AS v FROM lm), "
            "doc_bg AS (SELECT doc_id, unnest([substring(s, i, 2) "
            "  for i in generate_series(1, length(s) - 1)]) AS bg "
            "  FROM d WHERE length(s) >= 2), "
            "scored AS (SELECT db.doc_id, "
            "  -ln((COALESCE(lm.c, 0.0) + 1.0) / "
            "      ((SELECT n_tokens FROM tot) + (SELECT v FROM tot) + 1.0)) AS nll "
            "  FROM doc_bg db LEFT JOIN lm ON lm.bg = db.bg) "
            "SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(nll), 6) AS avg_nll "
            "FROM scored GROUP BY doc_id"
        ),
        "q_pagerank": (
            "WITH " + _PAGERANK_CTES + " "
            "SELECT node AS doc_id, ROUND(rank, 10) AS rank FROM i3"
        ),
        "q_dedup_clusters": (
            "SELECT doc_id, doc_id AS cluster_id, CAST(3 AS BIGINT) AS cluster_size, "
            "TRUE AS is_rep FROM documents WHERE doc_id < 30 "
            "UNION ALL SELECT doc_id + 10000, doc_id, CAST(3 AS BIGINT), FALSE "
            "FROM documents WHERE doc_id < 30 "
            "UNION ALL SELECT doc_id + 20000, doc_id, CAST(3 AS BIGINT), FALSE "
            "FROM documents WHERE doc_id < 30"
        ),
        "q_simhash_dup": (
            "SELECT doc_id AS id_a, doc_id + 20000 AS id_b, 0 AS hamming "
            "FROM documents WHERE doc_id < 50"
        ),
        "q_ann_ivf_full": (
            "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) "
            "SELECT e.vec_id, ROUND(CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
            "CAST(q.qe AS DOUBLE[])) AS DOUBLE), 4) AS sim "
            "FROM embeddings e, q WHERE e.vec_id <> 0 ORDER BY sim DESC, e.vec_id LIMIT 10"
        ),
        "q_embed_near_dup": (
            "SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cosine "
            "FROM embeddings WHERE vec_id < 50"
        ),
        "q_simhash_near_dup": (
            "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, "
            "CAST(hamming AS INT) AS hamming FROM (VALUES "
            "(30000, 30001, 1), (30000, 30002, 2), (30000, 30003, 3), "
            "(30001, 30002, 3)) t(id_a, id_b, hamming)"
        ),
        "q_ann_ivf": (
            "SELECT CAST(g AS INT) AS ivf_rank, TRUE AS in_exact_top50 "
            "FROM generate_series(1, 10) t(g)"
        ),
        "q_media_features": (
            "SELECT doc_id, CAST(44 + 2 * (100 + doc_id % 50) AS BIGINT) AS n_bytes, "
            "(100 + doc_id % 50) / 8000.0 AS duration_s, "
            "CAST(100 + (doc_id * 3) % 1000 AS DOUBLE) AS rms, "
            "CAST(100 + (doc_id * 3) % 1000 AS DOUBLE) AS peak "
            "FROM documents WHERE doc_id < 200"
        ),
        "q_link_extract": (
            "WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS i, "
            "CAST(doc_id % 20 AS VARCHAR) AS k, CAST(doc_id % 7 AS VARCHAR) AS e "
            "FROM documents WHERE doc_id < 200), "
            "f AS (SELECT doc_id, i, k, e, unnest([1, 2, 3, 4]) AS fam FROM d) "
            "SELECT 'http://www.s' || k || '.example.com/dir/page' || i || '.html' AS url, "
            "CASE fam "
            "WHEN 1 THEN 'http://www.s' || k || '.example.com/abs/' || i "
            "WHEN 2 THEN 'http://www.s' || k || '.example.com/dir/rel' || i "
            "WHEN 3 THEN 'http://www.s' || k || '.example.com/up' || i "
            "ELSE 'https://ext' || e || '.com/p?a=1&b=2' END AS link, "
            "CASE fam "
            "WHEN 1 THEN 'http://s' || k || '.example.com/abs/' || i "
            "WHEN 2 THEN 'http://s' || k || '.example.com/dir/rel' || i "
            "WHEN 3 THEN 'http://s' || k || '.example.com/up' || i "
            "ELSE 'https://ext' || e || '.com/p?a=1&b=2' END AS canonical_url, "
            "TRUE AS url_valid FROM f"
        ),
        "q_line_dedup": (
            "WITH d AS (SELECT doc_id, 'doc' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 1, 30) "
            "|| '|boiler ' || CAST(doc_id % 5 AS VARCHAR) || '|tail ' || CAST(doc_id AS VARCHAR) AS t "
            "FROM documents WHERE doc_id < 500), "
            "freq AS (SELECT line FROM (SELECT DISTINCT doc_id, unnest(string_split(t, '|')) AS line FROM d) "
            "GROUP BY line HAVING count(*) > 2), "
            "fl AS (SELECT coalesce(list(line), []) AS bl FROM freq) "
            "SELECT doc_id, "
            "array_to_string([x for x in string_split(t, '|') if NOT list_contains(bl, x)], '|') AS text, "
            "len([x for x in string_split(t, '|') if NOT list_contains(bl, x)]) AS n_lines_kept, "
            "len(string_split(t, '|')) - len([x for x in string_split(t, '|') if NOT list_contains(bl, x)]) AS n_lines_dropped "
            "FROM d CROSS JOIN fl"
        ),
        "q_pii_scrub": (
            "WITH d AS (SELECT doc_id, substr(text, 1, 40) || ' u' || CAST(doc_id AS VARCHAR) "
            "|| '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org +1 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) "
            "|| ' 10.' || CAST(doc_id % 250 AS VARCHAR) || '.0.' || CAST(doc_id % 200 AS VARCHAR) AS t "
            "FROM documents WHERE doc_id < 500), "
            "s AS (SELECT doc_id, t, "
            "regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS e1 FROM d), "
            "s2 AS (SELECT doc_id, t, e1, "
            "regexp_replace(e1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS e2 FROM s) "
            "SELECT doc_id, "
            "regexp_replace(e2, '\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text, "
            "CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email, "
            "CAST(len(regexp_extract_all(e1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS INT) AS n_ip, "
            "CAST(len(regexp_extract_all(e2, '\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}')) AS INT) AS n_phone "
            "FROM s2"
        ),
        "q_c4_gate": (
            "WITH d AS (SELECT doc_id, lang, "
            "CASE WHEN doc_id % 11 = 0 THEN 'short text' "
            "WHEN doc_id % 7 = 0 THEN text || ' lorem' ELSE text END AS t, "
            "'http://h' || CAST(doc_id % 50 AS VARCHAR) || '.com/' || "
            "CASE WHEN doc_id % 13 = 0 THEN 'casino/' ELSE 'a/' END || CAST(doc_id AS VARCHAR) AS url "
            "FROM documents WHERE doc_id < 1000) "
            "SELECT doc_id, "
            "CASE WHEN len(string_split_regex(trim(t), '\\s+')) < 5 THEN 'too_short' "
            "WHEN lower(url) LIKE '%casino%' OR lower(url) LIKE '%tracker%' THEN 'blocked_url' "
            "WHEN lower(t) LIKE '%lorem%' OR lower(t) LIKE '%spamword%' THEN 'bad_word' "
            "WHEN lang <> 'en' THEN 'lang' END AS drop_reason, "
            "(CASE WHEN len(string_split_regex(trim(t), '\\s+')) < 5 THEN 'too_short' "
            "WHEN lower(url) LIKE '%casino%' OR lower(url) LIKE '%tracker%' THEN 'blocked_url' "
            "WHEN lower(t) LIKE '%lorem%' OR lower(t) LIKE '%spamword%' THEN 'bad_word' "
            "WHEN lang <> 'en' THEN 'lang' END) IS NULL AS keep "
            "FROM d"
        ),
        "q_link_resolve": (
            "SELECT doc_id, CAST(doc_id % 7 AS INT) AS cls, "
            "CASE CAST(doc_id % 7 AS INT) "
            "WHEN 0 THEN 'ftp://ext' || CAST(doc_id AS VARCHAR) || '.com/f' "
            "WHEN 1 THEN 'http://abs' || CAST(doc_id AS VARCHAR) || '.com/p' "
            "WHEN 2 THEN '//cdn' || CAST(doc_id AS VARCHAR) || '.com/x.js' "
            "WHEN 3 THEN '/r/' || CAST(doc_id AS VARCHAR) "
            "WHEN 4 THEN '?q=' || CAST(doc_id AS VARCHAR) "
            "WHEN 5 THEN 'p' || CAST(doc_id AS VARCHAR) || '.html' "
            "ELSE '../u' || CAST(doc_id AS VARCHAR) END AS href, "
            "CASE CAST(doc_id % 7 AS INT) "
            "WHEN 0 THEN 'ftp://ext' || CAST(doc_id AS VARCHAR) || '.com/f' "
            "WHEN 1 THEN 'http://abs' || CAST(doc_id AS VARCHAR) || '.com/p' "
            "WHEN 2 THEN 'http://cdn' || CAST(doc_id AS VARCHAR) || '.com/x.js' "
            "WHEN 3 THEN 'http://h' || CAST(doc_id % 50 AS VARCHAR) || '.com/r/' || CAST(doc_id AS VARCHAR) "
            "WHEN 4 THEN 'http://h' || CAST(doc_id % 50 AS VARCHAR) || '.com/a/b/c.html?q=' || CAST(doc_id AS VARCHAR) "
            "WHEN 5 THEN 'http://h' || CAST(doc_id % 50 AS VARCHAR) || '.com/a/b/p' || CAST(doc_id AS VARCHAR) || '.html' "
            "ELSE 'http://h' || CAST(doc_id % 50 AS VARCHAR) || '.com/a/u' || CAST(doc_id AS VARCHAR) END AS link "
            "FROM documents WHERE doc_id < 700"
        ),
        "q_cdx_surt": (
            "WITH c AS (SELECT doc_id, "
            "'https://www.' || lower(source) || '.example.com/doc/' || CAST(doc_id AS VARCHAR) || '?v=1' AS lurl, "
            "'https://WWW.' || upper(source) || '.Example.com/Doc/' || CAST(doc_id AS VARCHAR) || '?v=1' AS url, "
            "lower(source) || '.example.com' AS host, "
            "'/doc/' || CAST(doc_id AS VARCHAR) || '?v=1' AS rest, "
            "md5(coalesce(text, '')) AS digest, "
            "doc_id * 100 + 7 AS record_len, doc_id * 1000 AS arc_offset "
            "FROM documents WHERE doc_id < 300), "
            "s AS (SELECT doc_id, url, digest, record_len, arc_offset, "
            "array_to_string(list_reverse(string_split(host, '.')), ',') || ')' || rest AS surt FROM c) "
            "SELECT doc_id, surt, '20240203040506' AS ts14, "
            "surt || ' 20240203040506 ' || url || ' text/html 200 ' || digest || ' ' || "
            "CAST(record_len AS VARCHAR) || ' ' || CAST(arc_offset AS VARCHAR) || ' crawl-00.arc.gz' AS cdx "
            "FROM s"
        ),
        "q_sitemap_extract": (
            "WITH j AS (SELECT doc_id, unnest([0, 1, 2]) AS j "
            "FROM documents WHERE doc_id < 200) "
            "SELECT doc_id, "
            "'https://s' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/' || "
            "CAST(doc_id * 3 + j AS VARCHAR) AS loc, "
            "CASE WHEN (doc_id + j) % 3 = 0 THEN '2024-01-15' END AS lastmod, "
            "CAST(NULL AS VARCHAR) AS changefreq, "
            "CASE WHEN (doc_id + j) % 2 = 0 "
            "THEN CAST('0.' || CAST((doc_id + j) % 9 + 1 AS VARCHAR) AS DOUBLE) END AS priority "
            "FROM j"
        ),
        "q_warc_roundtrip": (
            "SELECT 'http://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url, "
            "CAST(200 AS INT) AS http_status, "
            "'application/http; msgtype=response' AS content_type, "
            "md5('<html><body>' || coalesce(text, '') || '</body></html>') AS body_md5 "
            "FROM documents WHERE doc_id < 300"
        ),
        "q_schedule_round": (
            "WITH c AS (SELECT 'h' || CAST(event_id % 40 AS VARCHAR) || '.com' AS host, "
            "['/a', '/private/x', '/b', '/private', '/c/d'][CAST(event_id % 5 AS INT) + 1] AS path, "
            "(event_id % 100) / 100.0 AS priority, "
            "event_id % 40 AS domain_hash, event_id AS url_hash, "
            "(event_id % 40) % 4 = 0 AS ruled "
            "FROM events WHERE event_id < 3000), "
            "a AS (SELECT * FROM c WHERE NOT (ruled AND path LIKE '/private%')), "
            "r AS (SELECT host, url_hash, priority, "
            "CASE WHEN ruled THEN 3 ELSE 5 END AS budget, "
            "ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority DESC, domain_hash, url_hash) AS host_rank "
            "FROM a) "
            "SELECT host, CAST(host_rank AS INT) AS host_rank, url_hash, priority "
            "FROM r WHERE host_rank <= budget"
        ),
        "q_gzip_besteffort": (
            "SELECT doc_id, md5(coalesce(text, '')) AS full_md5, "
            "FALSE AS full_truncated, TRUE AS partial_ok "
            "FROM documents WHERE doc_id < 300"
        ),
        "q_arc_roundtrip": (
            "SELECT 'http://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url, "
            "'text/html' AS mime, "
            "CAST(27 + octet_length(encode('<html><body>' || coalesce(text, '') || '</body></html>')) AS BIGINT) AS record_len, "
            "CAST(1 AS INT) AS n_headers, "
            "md5('<html><body>' || coalesce(text, '') || '</body></html>') AS payload_md5 "
            "FROM documents WHERE doc_id < 300"
        ),
        "q_robots_rfc": (
            "SELECT event_id, "
            "CASE CAST(event_id % 14 AS INT) "
            + " ".join(
                f"WHEN {i} THEN '{p}'" for i, (p, _) in enumerate(_ROBOTS_RFC_PATHS)
            )
            + " END AS path, "
            "CASE CAST(event_id % 14 AS INT) "
            + " ".join(
                "WHEN {} THEN {}".format(i, "TRUE" if a else "FALSE")
                for i, (_, a) in enumerate(_ROBOTS_RFC_PATHS)
            )
            + " END AS robots_allowed, "
            "30 AS budget "  # least(default 100, 60000ms / 2000ms crawl-delay)
            "FROM events WHERE event_id < 2000"
        ),
        "q_rice_codec": (
            "WITH s AS (SELECT l_suppkey, l_orderkey, "
            "l_orderkey - lag(l_orderkey, 1, 0) OVER "
            "(PARTITION BY l_suppkey ORDER BY l_orderkey) AS gap FROM lineitem) "
            "SELECT l_suppkey, COUNT(*) AS n_postings, "
            "CAST(SUM(1 + 4 + (gap // 16)) AS BIGINT) AS total_bits, "
            "TRUE AS roundtrip_ok FROM s GROUP BY l_suppkey"
        ),
        "q_repetition_stats": (
            "WITH t AS (SELECT doc_id, coalesce(text,'') AS s FROM documents WHERE doc_id < 500), "
            "tok AS (SELECT doc_id, string_split(s, ' ') AS toks FROM t), "
            "ts AS (SELECT doc_id, 1 - CAST(len(list_distinct(toks)) AS DOUBLE) "
            "/ greatest(len(toks), 1) AS dup_token_frac FROM tok), "
            "bgs AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ') "
            "for i in range(1, len(toks))]) AS bg FROM tok WHERE len(toks) >= 2), "
            "c AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY doc_id, bg), "
            "m AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac "
            "FROM c GROUP BY doc_id) "
            "SELECT ts.doc_id, dup_token_frac, coalesce(m.top_bigram_frac, 0.0) AS top_bigram_frac "
            "FROM ts LEFT JOIN m USING (doc_id)"
        ),
        "q_substring_dedup": (
            "WITH t AS (SELECT doc_id, coalesce(text,'') || "
            "CASE WHEN doc_id < 30 THEN ' ' || "
            + "[{}][CAST(doc_id % 3 AS INT) + 1]".format(
                ", ".join("'%s'" % p for p in _DUP_PASSAGES)
            )
            + " ELSE '' END AS s FROM documents WHERE doc_id < 500), "
            "tok AS (SELECT doc_id, string_split(s, ' ') AS toks FROM t), "
            "w AS (SELECT doc_id, CASE WHEN len(toks) >= 8 THEN "
            "[array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks)-6)] "
            "ELSE [] END AS wins FROM tok), "
            "e AS (SELECT doc_id, unnest(wins) AS win FROM w), "
            "d AS (SELECT win FROM e GROUP BY win HAVING COUNT(DISTINCT doc_id) > 1), "
            "c AS (SELECT doc_id, COUNT(*) AS n_dup_windows FROM e JOIN d USING (win) GROUP BY doc_id) "
            "SELECT t.doc_id, CAST(coalesce(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows "
            "FROM t LEFT JOIN c USING (doc_id)"
        ),
        "q_media_png_filters": (
            "SELECT doc_id, CAST(4 + doc_id % 8 AS INT) AS width, "
            "CAST(4 + (doc_id // 8) % 8 AS INT) AS height, "
            "CAST(doc_id % 128 AS DOUBLE) + (4 + doc_id % 8 - 1) / 2.0 "
            "+ (4 + doc_id % 8) * (4 + (doc_id // 8) % 8 - 1) / 2.0 AS mean_gray "
            "FROM documents WHERE doc_id < 200"
        ),
        "q_media_jpeg": (
            "SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width, "
            "CAST(8 + (doc_id // 9) % 9 AS INT) AS height, "
            "CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_gray "
            "FROM documents WHERE doc_id < 200"
        ),
        "q_media_video": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END AS container, "
            "CAST(320 + (doc_id % 16) * 16 AS INT) AS width, "
            "CAST(180 + (doc_id % 9) * 20 AS INT) AS height, "
            "CAST(1000 + doc_id * 37 AS DOUBLE) AS duration_ms, "
            "CAST(CASE WHEN doc_id % 2 = 0 THEN 244 "
            "WHEN (doc_id % 9) <= 3 THEN 78 ELSE 79 END AS BIGINT) AS n_bytes "
            "FROM documents WHERE doc_id < 200"
        ),
        "q_media_decode": (
            "SELECT doc_id, CAST(4 + doc_id % 8 AS INT) AS width, "
            "CAST(4 + (doc_id // 8) % 8 AS INT) AS height, "
            "CAST(doc_id % 256 AS DOUBLE) AS mean_r, "
            "CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g, "
            "CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b "
            "FROM documents WHERE doc_id < 200"
        ),
        "q_charset_decode": (
            "SELECT doc_id, ['utf-8', 'windows-1252', 'iso-8859-1'][CAST(doc_id % 3 AS INT) + 1] AS charset, "
            "md5(trim(regexp_replace('d' || CAST(doc_id AS VARCHAR) || ' ' || text || ' ' || "
            "['こんにちは ☃', 'café—naïve', 'café ñ'][CAST(doc_id % 3 AS INT) + 1], '\\s+', ' ', 'g'))) AS text_md5 "
            "FROM documents WHERE doc_id < 300"
        ),
        "q_charset_detect": (
            "SELECT doc_id, "
            "CASE CAST(doc_id % 4 AS INT) WHEN 3 THEN 'UTF-16LE' ELSE 'ASCII' END AS detected, "
            "CASE CAST(doc_id % 4 AS INT) "
            + " ".join(
                "WHEN {} THEN md5('{}' || CAST(doc_id AS VARCHAR))".format(
                    i, _detect_expected_prefix(_DETECT_FAMILIES[i][0], _DETECT_FAMILIES[i][1])
                )
                for i in range(3)
            )
            + " ELSE NULL END AS text_md5 "
            "FROM documents WHERE doc_id < 400"
        ),
        "q_ewma": (
            "WITH RECURSIVE e AS (SELECT user_id, event_id, value, "
            "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events), "
            "r AS (SELECT user_id, event_id, rn, CAST(value AS DOUBLE) AS ewma FROM e WHERE rn = 1 "
            "UNION ALL SELECT e.user_id, e.event_id, e.rn, 0.3 * e.value + 0.7 * r.ewma "
            "FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1) "
            "SELECT event_id, user_id, FLOOR(ewma * 10000 + 0.5) / 10000 AS ewma FROM r"
        ),
        "q_langid": (
            "WITH t AS (SELECT lower(coalesce(text, '')) AS s FROM documents), "
            "sc AS (SELECT s, "
            "(length(s)-length(replace(s,' der ','')))//5 + (length(s)-length(replace(s,' die ','')))//5 "
            "+ (length(s)-length(replace(s,' und ','')))//5 + (length(s)-length(replace(s,' über ','')))//6 "
            "+ (length(s)-length(replace(s,'ß',''))) + (length(s)-length(replace(s,'ä',''))) "
            "+ (length(s)-length(replace(s,'ö',''))) + (length(s)-length(replace(s,'ü',''))) AS de, "
            "(length(s)-length(replace(s,' el ','')))//4 + (length(s)-length(replace(s,' la ','')))//4 "
            "+ (length(s)-length(replace(s,' los ','')))//5 + (length(s)-length(replace(s,' según ','')))//7 "
            "+ (length(s)-length(replace(s,' mientras ','')))//10 + (length(s)-length(replace(s,'ñ',''))) "
            "+ (length(s)-length(replace(s,'á',''))) + (length(s)-length(replace(s,'í',''))) AS es, "
            "(length(s)-length(replace(s,' le ','')))//4 + (length(s)-length(replace(s,' la ','')))//4 "
            "+ (length(s)-length(replace(s,' les ','')))//5 + (length(s)-length(replace(s,' selon ','')))//7 "
            "+ (length(s)-length(replace(s,' côté ','')))//6 + (length(s)-length(replace(s,'ç',''))) "
            "+ (length(s)-length(replace(s,'è',''))) + (length(s)-length(replace(s,'é',''))) AS fr FROM t) "
            "SELECT detected, COUNT(*) AS cnt FROM (SELECT CASE "
            "WHEN regexp_matches(s, '[一-鿿]') THEN 'zh' "
            "WHEN greatest(de, es, fr) > 0 THEN (CASE WHEN de >= es AND de >= fr THEN 'de' "
            "WHEN es >= fr THEN 'es' ELSE 'fr' END) ELSE 'en' END AS detected FROM sc) "
            "GROUP BY detected"
        ),
        "q_doc_fingerprint": (
            "WITH d AS (SELECT doc_id, coalesce(text, '') AS s FROM documents WHERE doc_id < 500), "
            "h AS (SELECT doc_id, CASE WHEN length(s) >= 8 THEN "
            "[(((((((((((((ascii(s[i])::HUGEINT * 1099511628211 + ascii(s[i+1])) % 18446744073709551616) "
            "* 1099511628211 + ascii(s[i+2])) % 18446744073709551616) "
            "* 1099511628211 + ascii(s[i+3])) % 18446744073709551616) "
            "* 1099511628211 + ascii(s[i+4])) % 18446744073709551616) "
            "* 1099511628211 + ascii(s[i+5])) % 18446744073709551616) "
            "* 1099511628211 + ascii(s[i+6])) % 18446744073709551616) "
            "* 1099511628211 + ascii(s[i+7])) % 18446744073709551616 "
            "for i in generate_series(1, length(s) - 7)] ELSE CAST([] AS HUGEINT[]) END AS hs FROM d), "
            "m AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN CAST([] AS HUGEINT[]) "
            "WHEN len(hs) <= 16 THEN [list_min(hs)] "
            "ELSE [list_min(hs[i:i+15]) for i in generate_series(1, len(hs) - 15)] END AS ms FROM h) "
            "SELECT doc_id, len(list_distinct(ms)) AS n_fingerprints FROM m"
        ),
    }
