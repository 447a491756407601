"""Per-host politeness scheduling: robots gating + crawl-delay budgets +
salted window/rank priority queue, as ONE batch plan (``process_round``).

The reference has no robots parser (grep: only meta-robots flag bits,
protocol.jr:31-38) and rate-limits at fetch time
(BandwidthUtils.java:158-207); per the north_rule this module lifts both
into the batch plan:

* robots gate — broadcast-join the per-host rules table and flag each
  candidate; the predicate follows the table's shape (``robots_gate``):
  a ``disallow_prefixes`` table gets the conservative prefix subset
  (pure Catalyst ``exists(startswith)``), a ``rules`` table
  (``robots_rules_table``) gets RFC 9309 longest-match semantics;
* budget — ``max_fetches_per_round`` capped by
  ``round_duration_ms / crawl_delay_ms`` (the 1-second-window token
  budget of BandwidthUtils.checkRateLimit, generalized to a round);
* priority queue — deterministic total order
  ``(priority DESC, domain_hash, url_hash)`` ranked per host with
  **two-stage salted top-k** (``salted_topk``): stage 1 ranks within
  ``(host, salt)`` and keeps at most ``budget`` rows per salt, stage 2
  ranks the survivors exactly per host.  Hot hosts (zipf head) therefore
  never serialize a single window partition; the result is identical to
  the unsalted rank because stage 1 only discards rows that could never
  make the top-k.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BUDGET = 10
DEFAULT_ROUND_MS = 60_000
PATH_RE = r"^[a-z]+://[^/]+(/.*)?$"
# rules-table columns the gate joins in; dropped from process_round output
_RULE_COLS = ("disallow_prefixes", "rules", "crawl_delay_ms", "max_fetches_per_round")


def parse_robots_txt(text: str | None, agent: str = "*") -> tuple[list[str], int | None]:
    """robots.txt → (disallow_prefixes, crawl_delay_ms): the disallow-only
    projection of ``parse_robots_rules`` (same group selection, same
    crawl-delay), feeding a ``disallow_prefixes`` rules table.

    NOTE: this is the conservative *prefix-only* subset (Allow lines
    dropped, '*'/'$' taken literally) used by the synthetic frontier and
    its pure-Python replay oracle; hosts using Allow-exceptions or
    wildcards are over-blocked here.  For RFC 9309 semantics (Allow with
    longest-match precedence, '*' and '$' patterns) build the table with
    ``robots_rules_table`` instead — ``robots_gate`` accepts both."""
    rules, delay = parse_robots_rules(text, agent)
    return [p for p, is_allow in rules if not is_allow], delay


def parse_robots_rules(
    text: str | None, agent: str = "*"
) -> tuple[list[tuple[str, bool]], int | None]:
    """RFC 9309 robots.txt parser → ([(pattern, is_allow)], crawl_delay_ms).

    Both Allow and Disallow lines are kept, in file order, with their raw
    path patterns ('*' any-sequence wildcard, '$' end anchor).  Matching
    precedence (longest pattern wins, tie → Allow) is applied at
    evaluation time by ``robots_gate`` / ``robots_decision``.
    Group selection: the exact agent name beats '*'; consecutive
    User-agent lines share one group."""
    if not text:
        return [], None
    groups: dict[str, tuple[list[tuple[str, bool]], float | None]] = {}
    current: list[str] = []
    collecting = False
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            ua = value.lower()
            if not collecting:
                current = []
            current.append(ua)
            collecting = True
            for u in current:
                groups.setdefault(u, ([], None))
        elif key in ("disallow", "allow", "crawl-delay"):
            collecting = False
            for u in current:
                rules, delay = groups.get(u, ([], None))
                if key == "crawl-delay":
                    try:
                        delay = float(value)
                    except ValueError:
                        pass
                elif value:  # empty Allow/Disallow matches nothing (RFC 9309 §2.2.2)
                    rules = rules + [(value, key == "allow")]
                groups[u] = (rules, delay)
    pick = groups.get(agent.lower()) or groups.get("*")
    if pick is None:
        return [], None
    rules, delay = pick
    return rules, int(delay * 1000) if delay is not None else None


def _pattern_to_regex(pattern: str) -> str:
    """Robots path pattern → anchored Java/Python-compatible regex:
    '*' → '.*', trailing '$' → end anchor, everything else literal."""
    import re as _re

    anchored_end = pattern.endswith("$")
    body = pattern[:-1] if anchored_end else pattern
    rx = "".join(".*" if c == "*" else _re.escape(c) for c in body)
    return "^" + rx + ("$" if anchored_end else "")


def robots_decision(path: str, rules: list[tuple[str, bool]]) -> bool:
    """Scalar RFC 9309 decision: True = allowed.  Longest matching
    pattern wins; equal lengths → Allow wins; no match → allowed."""
    import re as _re

    best_len = -1
    best_allow = True
    for pattern, is_allow in rules:
        if _re.match(_pattern_to_regex(pattern), path):
            plen = len(pattern)
            if plen > best_len or (plen == best_len and is_allow and not best_allow):
                best_len = plen
                best_allow = is_allow
    return best_allow


def robots_rules_table(
    df: DataFrame, host_col: str = "host", body_col: str = "robots_txt", agent: str = "*"
) -> DataFrame:
    """(host, robots_txt) rows → RFC 9309 rules table:
    (host, rules array<struct<rx,len,allow>>, crawl_delay_ms,
    max_fetches_per_round)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    rule_t = StructType(
        [
            StructField("rx", StringType()),
            StructField("len", IntegerType()),
            StructField("allow", BooleanType()),
        ]
    )
    schema = StructType(
        [
            StructField("rules", ArrayType(rule_t)),
            StructField("crawl_delay_ms", LongType()),
        ]
    )

    @pandas_udf(schema)
    def _parse(bodies: pd.Series) -> pd.DataFrame:
        out_rules, out_delay = [], []
        for b in bodies:
            rules, delay = parse_robots_rules(b, agent)
            out_rules.append(
                [
                    {"rx": _pattern_to_regex(p), "len": len(p), "allow": a}
                    for p, a in rules
                ]
            )
            out_delay.append(delay)
        return pd.DataFrame(
            {"rules": out_rules, "crawl_delay_ms": pd.array(out_delay, dtype="Int64")}
        )

    # one row per host is a hard invariant downstream: process_round's
    # gate join would fan candidates out (duplicate seen identities,
    # double-counted budgets) on a duplicate host row
    parsed = df.dropDuplicates([host_col]).withColumn("_r", _parse(F.col(body_col)))
    return parsed.select(
        F.col(host_col).alias("host"),
        F.col("_r.rules").alias("rules"),
        F.col("_r.crawl_delay_ms").alias("crawl_delay_ms"),
        F.lit(None).cast("int").alias("max_fetches_per_round"),
    )


def with_host_and_path(df: DataFrame, canonical_col: str = "canonical_url") -> DataFrame:
    """Derive host and path columns from the canonical URL (Catalyst only).

    The path regex runs ONCE per row: the raw extract lands in its own
    projection and the empty→"/" default references that column.
    CollapseProject keeps non-cheap multiply-referenced aliases in
    their own project, so the plan evaluates one regexp_extract per
    output column (r4 plan audit showed the inline CASE form computing
    the path regex twice per candidate row)."""
    return (
        df.withColumn(
            "host", F.regexp_extract(F.col(canonical_col), r"^[a-z]+://(?:[^/@]*@)?([^/:?#]+)", 1)
        )
        .withColumn("_rawpath", F.regexp_extract(F.col(canonical_col), PATH_RE, 1))
        .withColumn(
            "path",
            F.when(F.length("_rawpath") > 0, F.col("_rawpath")).otherwise(F.lit("/")),
        )
        .drop("_rawpath")
    )


def robots_gate(df: DataFrame, robots: DataFrame, broadcast_robots: bool = True) -> DataFrame:
    """Join the rules table and add a ``robots_allowed`` flag (hosts
    without rules default-allow).  The predicate follows the table:

    * ``disallow_prefixes`` (``synth.gen_robots`` / ``parse_robots_txt``)
      → disallowed iff the path starts with any prefix;
    * ``rules`` (``robots_rules_table``) → RFC 9309 as a Catalyst fold:
      the longest matching pattern wins, tie → Allow, no match → allow.

    INVARIANT: one row per host (the constructors enforce it) — the join
    would otherwise fan candidates out into duplicate identities."""
    if "disallow_prefixes" in robots.columns:
        rule_col = "disallow_prefixes"
        allowed = ~F.when(
            F.col("disallow_prefixes").isNotNull(),
            F.exists("disallow_prefixes", lambda p: F.col("path").startswith(p)),
        ).otherwise(F.lit(False))
    elif "rules" in robots.columns:
        rule_col = "rules"
        allowed = F.expr(
            "rules IS NULL OR aggregate("
            "  filter(rules, x -> path rlike x.rx),"
            "  named_struct('len', -1, 'allow', true),"
            "  (acc, x) -> IF(x.len > acc.len OR (x.len = acc.len AND x.allow AND NOT acc.allow),"
            "               named_struct('len', x.len, 'allow', x.allow), acc)"
            ").allow"
        )
    else:
        raise ValueError(
            "robots table needs a 'disallow_prefixes' (prefix subset) or a 'rules' "
            f"(RFC 9309, see robots_rules_table) column; got {robots.columns}"
        )
    r = robots.select("host", rule_col, "crawl_delay_ms", "max_fetches_per_round")
    if broadcast_robots:
        r = F.broadcast(r)
    return df.join(r, "host", "left").withColumn("robots_allowed", allowed)


def robots_allow(df: DataFrame, robots: DataFrame, broadcast_robots: bool = True) -> DataFrame:
    """Filter out disallowed paths; hosts without rules default-allow."""
    return robots_gate(df, robots, broadcast_robots).filter("robots_allowed").drop("robots_allowed")


def with_budget(
    df: DataFrame,
    default_budget: int = DEFAULT_BUDGET,
    round_duration_ms: int = DEFAULT_ROUND_MS,
) -> DataFrame:
    """Effective per-host fetch budget for one round."""
    delay_cap = F.when(
        F.col("crawl_delay_ms").isNotNull() & (F.col("crawl_delay_ms") > 0),
        F.greatest(F.lit(1), (F.lit(round_duration_ms) / F.col("crawl_delay_ms")).cast("int")),
    )
    base = F.coalesce(F.col("max_fetches_per_round"), F.lit(default_budget))
    return df.withColumn("budget", F.least(base, F.coalesce(delay_cap, base)))


def salted_topk(
    df: DataFrame,
    keys: list[str],
    k: int | Column,
    n_salts: int = 16,
    keep_all: Column | None = None,
    layout_partitions: int | None = None,
) -> DataFrame:
    """Deterministic per-key top-k by the frontier total order
    (priority DESC, domain_hash, url_hash) as a two-stage salted window:
    stage 1 ranks within ``(keys, salt)`` and keeps at most ``k`` rows
    per salt, stage 2 ranks the survivors exactly per key into
    ``host_rank`` (1..k; every caller keys on the host or its
    fingerprint).  Hot keys never serialize one window partition, and
    the result equals the unsalted top-k because stage 1 only discards
    rows that could never make it.

    ``k``: an int or a per-row column (e.g. the host budget).
    ``keep_all``: rows where it holds are never cut — they are ranked
    but kept whatever their rank (put the flag in ``keys`` so they rank
    among themselves).

    ``layout_partitions``: when set, the stage-2 exchange hash-partitions
    by ``pmod(domain_hash, P)`` and the window keys gain that prefix.
    domain_hash must then be constant per key, so the rank groups (and
    every output row) are unchanged, while the output lands already
    clustered for a one-file-per-partition write.  The stage-1 window
    keeps its own (keys, salt) exchange, so hot keys still spread."""
    order = [F.desc("priority"), F.asc("domain_hash"), F.asc("url_hash")]
    k = F.lit(k) if isinstance(k, int) else k

    def _top(ranked: DataFrame) -> DataFrame:
        within = F.col("host_rank") <= k
        return ranked.filter(within if keep_all is None else keep_all | within)

    salted = df.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(n_salts)).cast("int"))
    w1 = Window.partitionBy(*keys, "_salt").orderBy(*order)
    pruned = _top(salted.withColumn("host_rank", F.row_number().over(w1))).drop("host_rank", "_salt")
    if layout_partitions is not None:
        pid = F.pmod(F.col("domain_hash"), F.lit(layout_partitions)).cast("int")
        pruned = pruned.withColumn("_pid", pid).repartition(layout_partitions, "_pid")
        keys = ["_pid", *keys]
    w2 = Window.partitionBy(*keys).orderBy(*order)
    ranked = _top(pruned.withColumn("host_rank", F.row_number().over(w2)))
    return ranked.drop("_pid") if layout_partitions is not None else ranked


def process_round(
    candidates: DataFrame,
    robots: DataFrame,
    default_budget: int = DEFAULT_BUDGET,
    round_duration_ms: int = DEFAULT_ROUND_MS,
    n_salts: int = 16,
    broadcast_robots: bool = True,
    layout_partitions: int | None = None,
) -> DataFrame:
    """Full politeness gate as ONE linear plan: host/path → robots →
    budget → salted rank.

    Input needs (canonical_url, priority, domain_hash, url_hash); output
    adds host, path, budget, host_rank and holds every candidate row
    DISPOSED this round: scheduled rows carry ``host_rank`` 1..budget,
    robots-retired rows carry ``host_rank`` NULL (so the frontier drains
    of them instead of re-probing every round).  Allowed-but-over-budget
    rows are absent (they stay in the frontier).  Callers split on
    ``host_rank IS NOT NULL``.

    The trick is ranking within ``(host, robots_allowed)`` window
    partitions: allowed rows rank among themselves exactly as an
    allowed-only rank would, disallowed rows ride along uncut and get
    their rank nulled at the end — one pass, where a scheduled ∪ retired
    union would recompute the whole gate+rank subtree per branch.

    ``layout_partitions``: the frontier passes its partition count P so
    the final rank's exchange doubles as the checkpoint layout exchange
    (see ``salted_topk``; domain_hash is constant per host)."""
    gated = robots_gate(with_host_and_path(candidates), robots, broadcast_robots)
    budgeted = with_budget(gated, default_budget, round_duration_ms)
    allowed = F.col("robots_allowed")
    ranked = salted_topk(
        budgeted, ["host", "robots_allowed"], F.col("budget"), n_salts,
        keep_all=~allowed, layout_partitions=layout_partitions,
    )
    return ranked.withColumn("host_rank", F.when(allowed, F.col("host_rank"))).drop(
        "robots_allowed", *_RULE_COLS
    )
