"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting (winnowing).

Built-in-first: everything SQL-expressible stays in Catalyst; only the
n-gram language heuristic and the winnowing fingerprint drop into Arrow
pandas UDFs (numpy kernels, no per-row Python loops in the hot path).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType, StringType


# ---------------------------------------------------------------------------
# language id — deterministic charset/stopword heuristic
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "de": (" der ", " die ", " und ", " über ", "ß", "ä", "ö", "ü"),
    "es": (" el ", " la ", " los ", " según ", " mientras ", "ñ", "á", "í"),
    "fr": (" le ", " la ", " les ", " selon ", " côté ", "ç", "è", "é"),
}
_CJK_RE = re.compile(r"[一-鿿]")


def detect_lang_batch(texts: pd.Series) -> pd.Series:
    """Deterministic language guess: CJK chars → zh; best marker hit
    among de/es/fr; default en."""
    s = texts.fillna("").str.lower()
    out = np.full(len(s), "en", dtype=object)
    cjk = s.str.contains(_CJK_RE, regex=True)
    scores = {}
    for lang, markers in _LANG_MARKERS.items():
        sc = np.zeros(len(s), dtype=np.int64)
        for m in markers:
            sc += s.str.count(re.escape(m)).to_numpy(dtype=np.int64)
        scores[lang] = sc
    stacked = np.stack([scores["de"], scores["es"], scores["fr"]])
    best = stacked.argmax(axis=0)
    best_score = stacked.max(axis=0)
    langs = np.array(["de", "es", "fr"], dtype=object)
    out = np.where(best_score > 0, langs[best], out)
    out = np.where(cjk.to_numpy(), "zh", out)
    return pd.Series(out, index=texts.index)


@pandas_udf(StringType())
def detect_lang(texts: pd.Series) -> pd.Series:
    return detect_lang_batch(texts)


# ---------------------------------------------------------------------------
# quality scoring — pure Catalyst
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")


def token_count(text_col: str | Column) -> Column:
    return F.size(F.split(text_col, " "))


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-shape quality features."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_space = n_chars - F.length(F.regexp_replace(c, " ", ""))
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?]", ""))
    stop_hits = sum(
        (F.size(F.split(F.concat(F.lit(" "), c, F.lit(" ")), f" {w} ")) - 1) for w in _STOPWORDS
    )
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_tokens_q", n_tokens)
        .withColumn("space_ratio", F.round(n_space / F.greatest(n_chars, F.lit(1)), 4))
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4))
        .withColumn("stopword_ratio", F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 4))
        .withColumn(
            "mean_token_len",
            F.round((n_chars - n_space) / F.greatest(n_tokens, F.lit(1)), 4),
        )
    )


# ---------------------------------------------------------------------------
# winnowing fingerprint — rolling Rabin-style hash + window minima
# ---------------------------------------------------------------------------


def winnow_fingerprints(text: str | None, k: int = 8, window: int = 16) -> list[int]:
    """Winnowing (Schleimer/Wilkerson/Aiken): k-gram rolling hashes, keep
    the minimum of each sliding window (rightmost on ties) → document
    fingerprint set.  Deterministic, vectorized."""
    if not text or len(text) < k:
        return []
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    if len(data) < k:
        return []
    with np.errstate(over="ignore"):
        h = np.zeros(len(data) - k + 1, dtype=np.uint64)
        for i in range(k):
            h = h * np.uint64(1099511628211) + data[i : len(data) - k + 1 + i]
    if len(h) <= window:
        return [int(h.min().view(np.int64))] if len(h) else []
    from numpy.lib.stride_tricks import sliding_window_view

    wins = sliding_window_view(h, window)
    mins = wins.min(axis=1)
    picked = np.unique(mins)
    return picked.view(np.int64).tolist()


@pandas_udf(ArrayType(LongType()))
def doc_fingerprints(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: winnow_fingerprints(t))


def repetition_stats(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021
    §A1.1 quality rules family), pure Catalyst:

    * ``dup_token_frac`` — 1 - distinct_tokens / total_tokens (mass of
      repeated tokens);
    * ``top_bigram_frac`` — occurrences of the most frequent token
      bigram / total bigrams (boilerplate/spam detector).

    Shuffles once on (doc, bigram) then once on doc; no Python.  Docs
    with < 2 tokens report 0.0 for the bigram fraction."""
    from pyspark.sql import functions as F

    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("doc"), toks.alias("toks")).withColumn(
        "n", F.size("toks")
    )
    tok_stats = base.select(
        "doc",
        (
            1.0
            - F.size(F.array_distinct("toks")).cast("double")
            / F.greatest(F.col("n"), F.lit(1)).cast("double")
        ).alias("dup_token_frac"),
    )
    bigrams = base.filter(F.col("n") >= 2).select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - 2),
                lambda i: F.array_join(F.slice("toks", i + 1, 2), " "),
            )
        ).alias("bg"),
    )
    bg_stats = (
        bigrams.groupBy("doc", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc")
        .agg(
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
                "top_bigram_frac"
            )
        )
    )
    return (
        tok_stats.join(bg_stats, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "dup_token_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style corpus curation (Raffel et al. 2020 §2.2 preprocessing analogs)
# ---------------------------------------------------------------------------

def remove_repeated_lines(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    sep: str = "\n",
    max_occurrences: int = 2,
) -> DataFrame:
    """Corpus-WIDE line dedup (the C4 "three-sentence/citation
    boilerplate" rule generalized): drop every line that appears in more
    than ``max_occurrences`` documents, rebuild each document from its
    surviving lines in order.

    Scale shape: lines shuffle as 8-byte xxhash64 keys for the global
    count (strings never leave the map side of that aggregation, same
    discipline as substring dedup); the rebuild groups by document id —
    two delta-sized shuffles total, no driver participation.  Returns
    (id, text, n_lines_kept, n_lines_dropped)."""
    import re as _re

    lines = df.select(
        F.col(id_col).alias("_id"),
        # Spark split() takes a REGEX — escape the literal separator.
        # coalesce: a NULL text must not drop the document from the
        # corpus (it becomes one empty line, deduped like any other)
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep), -1)
        ).alias("_pos", "_line"),
    )
    lines = lines.withColumn("_lh", F.xxhash64("_line"))
    counts = (
        lines.select("_lh", "_id")
        .distinct()  # count DOCUMENTS containing the line, not repeats within one
        .groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_docs"))
    )
    tagged = lines.join(counts, "_lh").withColumn(
        "_keep", F.col("_docs") <= F.lit(max_occurrences)
    )
    return (
        tagged.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_pos", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
                sep,
            ).alias(text_col),
            F.count(F.when(F.col("_keep"), 1)).alias("n_lines_kept"),
            F.count(F.when(~F.col("_keep"), 1)).alias("n_lines_dropped"),
        )
        .withColumnRenamed("_id", id_col)
    )


# portable RE2/Java patterns (no lookaround): kept in sync with the SQL oracle
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PII_PHONE_RE = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-corpus PII redaction: emails, IPv4 literals, and
    international-format phone numbers replaced with typed tokens, with
    per-document match counts.  Pure Catalyst (JVM regex, no UDF);
    patterns are lookaround-free so the DuckDB oracle runs them
    verbatim.  Order matters: emails first (an email's host could
    otherwise be half-eaten by the IP pattern)."""
    t = F.col(text_col)
    # counts are SEQUENTIAL (each stage counts on the previous stage's
    # output), so overlapping matches — e.g. an IP-looking localpart
    # inside an email — are never double-counted and the counts agree
    # with the tokens actually emitted
    after_email = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4_RE, "<IP>")
    n_email = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
    n_ip = F.size(F.regexp_extract_all(after_email, F.lit(PII_IPV4_RE), F.lit(0)))
    n_phone = F.size(F.regexp_extract_all(after_ip, F.lit(PII_PHONE_RE), F.lit(0)))
    scrubbed = F.regexp_replace(after_ip, PII_PHONE_RE, "<PHONE>")
    return df.withColumn("n_email", n_email).withColumn("n_ip", n_ip).withColumn(
        "n_phone", n_phone
    ).withColumn(text_col, scrubbed)


def c4_document_gate(
    df: DataFrame,
    text_col: str = "text",
    url_col: str | None = None,
    lang_col: str | None = None,
    min_words: int = 5,
    blocked_url_terms: tuple[str, ...] = ("casino", "tracker"),
    bad_words: tuple[str, ...] = ("lorem", "spamword"),
    keep_langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """C4-style document filter: too-short, blocked-URL-term, bad-word,
    and language gates, emitting keep + the FIRST failing reason (rule
    order is part of the contract).  Pure Catalyst."""
    t = F.col(text_col)
    # split on whitespace RUNS — a single-space split would miscount
    # newline/tab-formatted documents and count empty tokens as words
    too_short = F.size(F.split(F.trim(t), "\\s+", -1)) < F.lit(min_words)
    checks = [(too_short, "too_short")]
    if url_col is not None:
        u = F.lower(F.col(url_col))
        blocked = F.lit(False)
        for term in blocked_url_terms:
            blocked = blocked | u.contains(term)
        checks.append((blocked, "blocked_url"))
    low = F.lower(t)
    bad = F.lit(False)
    for w in bad_words:
        bad = bad | low.contains(w)
    checks.append((bad, "bad_word"))
    if lang_col is not None:
        checks.append((~F.col(lang_col).isin(*keep_langs), "lang"))
    reason = F.lit(None).cast("string")
    for cond, name in reversed(checks):
        reason = F.when(cond, F.lit(name)).otherwise(reason)
    return df.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


def ngram_lm_score(
    df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality scoring: fit a char-bigram
    add-one LM on a reference corpus, score every document by average
    negative log-likelihood per bigram (low = reference-like prose,
    high = gibberish/word-soup — the bucket key CCNet uses to stratify
    training data by LM perplexity).

    Pure Catalyst end-to-end: the fit is explode→groupBy over the
    reference's bigrams; scoring is a BROADCAST join of the LM table
    (char-bigram vocab is tiny — ≤ ~64k entries even for full Latin-1;
    for word-level LMs swap the broadcast for a shuffle join) and one
    aggregation per document.

    Model: p(bg) = (c(bg) + 1) / (N + V + 1) with N = total reference
    bigram tokens, V = observed vocab size; unseen bigrams get
    1/(N + V + 1).  Documents shorter than 2 chars are dropped (no
    bigrams to score).  avg_nll is rounded to 6 dp (association-order
    stability across engines).
    """
    bigrams = lambda col: F.explode(  # noqa: E731
        F.expr(
            f"transform(sequence(1, length({col}) - 1), i -> substring({col}, i, 2))"
        )
    )
    ref = ref_df.select(F.coalesce(F.col(text_col), F.lit("")).alias("s")).where(
        F.length("s") >= 2
    )
    lm = ref.select(bigrams("s").alias("bg")).groupBy("bg").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    # fail loudly on an unfittable reference — otherwise n_tokens is
    # NULL and every document scores avg_nll=NULL with no signal that
    # the model was never fit (a curation pipeline would silently
    # bucket/drop everything)
    if lm.limit(1).count() == 0:
        raise ValueError(
            "ngram_lm_score: reference corpus has no scoreable text "
            "(every row null/empty/shorter than 2 chars)"
        )
    tot = lm.agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).cast("double").alias("v")
    )
    doc_bg = (
        df.select(
            F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("s")
        )
        .where(F.length("s") >= 2)
        .select(id_col, bigrams("s").alias("bg"))
    )
    scored = (
        doc_bg.join(F.broadcast(lm), "bg", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            id_col,
            (
                -F.log(
                    (F.coalesce("c", F.lit(0.0)) + 1.0)
                    / (F.col("n_tokens") + F.col("v") + 1.0)
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
    )
