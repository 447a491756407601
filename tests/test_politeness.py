"""robots.txt parsing and rules-table construction."""

import pytest

from ccspark import politeness

ROBOTS = """# example
User-agent: *
Disallow: /private
Disallow: /tmp/
Crawl-delay: 2

User-agent: ccspark
Disallow: /only-for-us
Crawl-delay: 0.5
"""


def test_parse_robots_default_agent():
    dis, delay = politeness.parse_robots_txt(ROBOTS, "*")
    assert dis == ["/private", "/tmp/"]
    assert delay == 2000


def test_parse_robots_specific_agent_wins():
    dis, delay = politeness.parse_robots_txt(ROBOTS, "ccspark")
    assert dis == ["/only-for-us"]
    assert delay == 500


def test_parse_robots_edge_cases():
    assert politeness.parse_robots_txt(None) == ([], None)
    assert politeness.parse_robots_txt("") == ([], None)
    assert politeness.parse_robots_txt("User-agent: *\nDisallow:") == ([], None)
    assert politeness.parse_robots_txt("garbage without colons\n???") == ([], None)
    # grouped user-agents share rules
    dis, _ = politeness.parse_robots_txt("User-agent: a\nUser-agent: b\nDisallow: /x", "b")
    assert dis == ["/x"]


def test_parse_robots_allow_line_closes_group():
    # an Allow line ends the user-agent group like any rule line: the
    # next User-agent starts a new group instead of joining this one
    allow_us = "User-agent: ccspark\nAllow: /\n\nUser-agent: *\nDisallow: /\n"
    assert politeness.parse_robots_txt(allow_us, "ccspark") == ([], None)
    assert politeness.parse_robots_txt(allow_us, "other") == (["/"], None)
    two = "User-agent: a\nAllow: /x\nUser-agent: b\nDisallow: /y\n"
    assert politeness.parse_robots_txt(two, "a") == ([], None)
    assert politeness.parse_robots_txt(two, "b") == (["/y"], None)


# ---------------------------------------------------------------------------
# RFC 9309 rules: Allow + '*'/'$' patterns, longest-match precedence
# ---------------------------------------------------------------------------

RFC_ROBOTS = """User-agent: *
Disallow: /private/
Allow: /private/public/
Disallow: /*.pdf$
Allow: /downloads/*.pdf$
Disallow: /tmp*
Crawl-delay: 1
"""


def test_parse_robots_rules_keeps_allow():
    rules, delay = politeness.parse_robots_rules(RFC_ROBOTS)
    assert ("/private/", False) in rules
    assert ("/private/public/", True) in rules
    assert ("/*.pdf$", False) in rules
    assert delay == 1000


def test_robots_decision_longest_match():
    rules, _ = politeness.parse_robots_rules(RFC_ROBOTS)
    d = politeness.robots_decision
    assert d("/", rules) is True
    assert d("/private/x", rules) is False
    assert d("/private/public/x", rules) is True     # longer Allow wins
    assert d("/doc.pdf", rules) is False              # wildcard + anchor
    assert d("/doc.pdfx", rules) is True              # '$' anchors the end
    assert d("/downloads/a.pdf", rules) is True       # longer Allow wins
    assert d("/tmpfile", rules) is False              # trailing wildcard-free prefix
    assert d("/elsewhere", rules) is True


def test_robots_decision_tie_prefers_allow():
    rules = [("/dir/", False), ("/dir/", True)]
    assert politeness.robots_decision("/dir/x", rules) is True


def test_parse_robots_rules_empty_disallow_matches_nothing():
    rules, _ = politeness.parse_robots_rules("User-agent: *\nDisallow:\n")
    assert rules == []
    assert politeness.robots_decision("/anything", rules) is True


def test_robots_allow_rfc_catalyst(spark):
    from pyspark.sql import functions as F

    robots_src = spark.createDataFrame(
        [("a.com", RFC_ROBOTS), ("b.com", None)], "host string, robots_txt string"
    )
    rules = politeness.robots_rules_table(robots_src)
    paths = [
        ("a.com", "/private/x", False),
        ("a.com", "/private/public/x", True),
        ("a.com", "/doc.pdf", False),
        ("a.com", "/downloads/a.pdf", True),
        ("a.com", "/tmpfile", False),
        ("a.com", "/ok", True),
        ("b.com", "/anything", True),      # no rules -> allow
        ("c.com", "/anything", True),      # unknown host -> allow
    ]
    df = spark.createDataFrame(
        [(h, p) for h, p, _ in paths], "host string, path string"
    )
    out = politeness.robots_allow(df, rules)
    got = {(r["host"], r["path"]) for r in out.select("host", "path").collect()}
    for h, p, want in paths:
        assert ((h, p) in got) == want, (h, p)
    # scalar decision parity on the same cases
    rules_scalar, _ = politeness.parse_robots_rules(RFC_ROBOTS)
    for h, p, want in paths:
        if h == "a.com":
            assert politeness.robots_decision(p, rules_scalar) == want, p


def test_robots_gate_rejects_unknown_table(spark):
    df = spark.createDataFrame([("a.com", "/x")], "host string, path string")
    bad = spark.createDataFrame(
        [("a.com", 1000, None)], "host string, crawl_delay_ms long, max_fetches_per_round int"
    )
    with pytest.raises(ValueError, match="disallow_prefixes.*rules"):
        politeness.robots_gate(df, bad)


def test_process_round_rules_table(spark):
    """process_round over an RFC 9309 rules table: the gate follows the
    table's columns, no mode argument."""
    robots_src = spark.createDataFrame(
        [("a.com", RFC_ROBOTS), ("b.com", None)], "host string, robots_txt string"
    )
    rules = politeness.robots_rules_table(robots_src)
    cands = spark.createDataFrame(
        [
            ("http://a.com/private/x", 0.9, 1, 11),
            ("http://a.com/private/public/x", 0.8, 2, 12),
            ("http://a.com/downloads/ok.pdf", 0.7, 3, 13),
            ("http://a.com/doc.pdf", 0.6, 4, 14),
            ("http://b.com/anything", 0.5, 5, 15),
        ],
        "canonical_url string, priority double, domain_hash long, url_hash long",
    )
    proc = politeness.process_round(cands, rules, default_budget=10, n_salts=4).collect()
    sched = [r for r in proc if r["host_rank"] is not None]
    got = {r["canonical_url"] for r in sched}
    assert got == {
        "http://a.com/private/public/x",   # longer Allow wins
        "http://a.com/downloads/ok.pdf",   # longer Allow wins
        "http://b.com/anything",           # no rules -> allow
    }
    dis = {r["canonical_url"] for r in proc if r["host_rank"] is None}
    assert dis == {"http://a.com/private/x", "http://a.com/doc.pdf"}
    # per-host ranks are dense from 1
    ranks = [(r["host"], r["host_rank"]) for r in sched]
    assert ("b.com", 1) in ranks
    assert sorted(rk for h, rk in ranks if h == "a.com") == [1, 2]


def _seed_candidates(spark, n_seeds: int, n_hosts: int):
    from pyspark.sql import functions as F

    from ccspark import functions as CF
    from ccspark import synth

    raw = synth.gen_seeds(spark, n_seeds, n_hosts, 42)
    return (
        CF.with_canonical_urlfp(raw)
        .filter("url_valid")
        .groupBy("domain_hash", "url_hash")
        .agg(
            F.min("url").alias("url"),
            F.min("canonical_url").alias("canonical_url"),
            F.max("priority").alias("priority"),
        )
    )


def test_process_round_layout_equals_plain(spark):
    """The frontier's layout_partitions form of process_round (the
    pipeline's too) and the plain form (q_schedule_round) dispose of the
    same rows: same scheduled (host, host_rank, url) and same retired
    identities, with allowed-but-over-budget rows absent from both."""
    from ccspark import synth

    n_hosts = 40
    robots = synth.gen_robots(spark, n_hosts, 42)
    cands = _seed_candidates(spark, 3000, n_hosts)

    def _split(proc):
        rows = proc.collect()
        sched = {
            (r["host"], r["host_rank"], r["canonical_url"]) for r in rows if r["host_rank"] is not None
        }
        retired = {(r["domain_hash"], r["url_hash"]) for r in rows if r["host_rank"] is None}
        return sched, retired, len(rows)

    plain = _split(politeness.process_round(cands, robots, default_budget=3, n_salts=4))
    laid = _split(
        politeness.process_round(cands, robots, default_budget=3, n_salts=4, layout_partitions=7)
    )
    assert laid[0] == plain[0] and len(plain[0]) > 0
    assert laid[1] == plain[1] and len(plain[1]) > 0
    # over-budget rows are in neither output
    assert laid[2] == plain[2] < cands.count()
    # scheduled ranks are dense 1..n per host
    per_host: dict = {}
    for host, rank, _ in plain[0]:
        per_host.setdefault(host, []).append(rank)
    assert all(sorted(r) == list(range(1, len(r) + 1)) for r in per_host.values())


def test_process_round_plan_shape(spark):
    """The crawl_recrawl hot path's executed plan: robots broadcast to
    the candidates (1 BroadcastExchange, no join shuffle), one exchange
    per salted-rank stage, the second doubling as the checkpoint layout
    (2 shuffle Exchanges, 2 Windows)."""
    from pyspark.sql import functions as F

    from ccspark import synth

    parts = 4
    robots = synth.gen_robots(spark, 20, 42)
    hosts = [r["host"] for r in robots.select("host").collect()]
    host_ix = (F.col("id") % len(hosts)).cast("int")
    cands = spark.range(2000).select(
        F.concat(
            F.lit("http://"), F.element_at(F.array(*map(F.lit, hosts)), host_ix + 1),
            F.when(F.col("id") % 3 == 0, F.lit("/private/p")).otherwise(F.lit("/p")),
            F.col("id").cast("string"),
        ).alias("canonical_url"),
        ((F.col("id") * 37 % 100) / 100.0).alias("priority"),
        host_ix.cast("long").alias("domain_hash"),
        (F.col("id") * 7919).alias("url_hash"),
    )
    df = politeness.process_round(
        cands, robots, 3, 60_000, 4, broadcast_robots=True, layout_partitions=parts
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    ops = [line.lstrip(" :+-*()0123456789") for line in final.splitlines()]
    count = {k: sum(o.startswith(k) for o in ops) for k in ("Exchange ", "BroadcastExchange ", "Window [")}
    assert count == {"Exchange ": 2, "BroadcastExchange ": 1, "Window [": 2}, final
