"""Google-spec robots rule precedence truth table: longest rule wins,
Allow wins exact-length ties, no matching rule allows, bare Disallow is a
no-op, wildcards/$ anchors translate correctly."""

from __future__ import annotations

from pyspark.sql import functions as F

ROBOTS = """User-agent: *
Disallow: /shop/
Allow: /shop/sale/
Disallow: /tmp*$
Disallow: /dual
Allow: /dual
Disallow:
"""


def _decide(spark, paths):
    from webcrawler_woc_spark.operators.fetch_policy import robots_decision
    from webcrawler_woc_spark.operators.politeness import parse_robots_rules

    robots = spark.createDataFrame([("h.example", ROBOTS)], "host string, text string")
    rules = parse_robots_rules(robots)
    frontier = spark.createDataFrame(
        [(f"http://h.example{p}", "h.example") for p in paths], "url string, host string"
    )
    out = robots_decision(frontier, rules).collect()
    return {r.url.replace("http://h.example", ""): r.allowed for r in out}


def test_precedence_truth_table(spark):
    got = _decide(
        spark,
        [
            "/shop/item",        # Disallow /shop/ only -> blocked
            "/shop/sale/item",   # longer Allow overrides -> allowed
            "/tmpfile",          # wildcard-$ Disallow -> blocked
            "/dual",             # equal-length Allow/Disallow tie -> allowed
            "/elsewhere",        # no matching rule -> allowed
        ],
    )
    assert got == {
        "/shop/item": False,
        "/shop/sale/item": True,
        "/tmpfile": False,
        "/dual": True,
        "/elsewhere": True,
    }


def test_bare_disallow_parses_to_no_rule(spark):
    from webcrawler_woc_spark.operators.politeness import parse_robots_rules

    robots = spark.createDataFrame([("h.example", ROBOTS)], "host string, text string")
    rules = {(r.rule_type, r.prefix) for r in parse_robots_rules(robots).collect()}
    assert rules == {
        ("disallow", "/shop/"),
        ("allow", "/shop/sale/"),
        ("disallow", "/tmp*$"),
        ("disallow", "/dual"),
        ("allow", "/dual"),
    }


UA_ROBOTS = """Disallow: /groupless
User-agent: otherbot
Disallow: /
User-agent: a
User-agent: *
Disallow: /shared
User-agent: MyBot
Disallow: /mine
"""


def _rules_for(spark, agent):
    from webcrawler_woc_spark.operators.politeness import parse_robots_rules

    robots = spark.createDataFrame([("h.example", UA_ROBOTS)], "host string, text string")
    return {
        (r.rule_type, r.prefix)
        for r in parse_robots_rules(robots, user_agent=agent).collect()
    }


class TestUserAgentGroups:
    def test_star_agent_skips_other_bots_group_and_groupless_rules(self, spark):
        # RFC 9309: rules before any User-agent line bind to no group
        # (ignored); the otherbot group is scoped away; consecutive UA lines
        # (a, *) share one group, so /shared applies.
        assert _rules_for(spark, "crawler") == {("disallow", "/shared")}

    def test_specific_group_suppresses_star_fallback(self, spark):
        # RFC 9309 §2.2.1: a group naming OUR agent wins outright — the '*'
        # group's /shared must NOT be merged in (no union semantics)
        assert _rules_for(spark, "mybot") == {
            ("disallow", "/mine"),  # UA match is case-insensitive
        }

    def test_ua_line_after_rules_starts_new_group(self, spark):
        # otherbot has its own group, so it sees ONLY that group's rule;
        # the '*' group is the suppressed fallback
        assert _rules_for(spark, "otherbot") == {
            ("disallow", "/"),
        }


class TestDisallowGroupScoping:
    def test_engine_and_pyoracle_agree_on_multi_group_file(self, spark):
        """The crawl's respect_disallow path and its Python oracle twin must
        walk groups identically: otherbot's blanket Disallow and the
        groupless rule never gate our frontier; the '*' group does."""
        from pyspark.sql import functions as F

        from webcrawler_woc_spark.operators.politeness import parse_robots_disallow
        from webcrawler_woc_spark.oracle.pyoracle import _disallow_rules

        pages_df = spark.createDataFrame(
            [("http://h.example/robots.txt", UA_ROBOTS)], "url string, text string"
        ).select("url", F.lit(None).cast("timestamp").alias("warc_ts"), "text")
        engine = {
            (r.host, r.prefix) for r in parse_robots_disallow(pages_df).collect()
        }
        assert engine == {("h.example", "/shared")}
        oracle = _disallow_rules({"http://h.example/robots.txt": UA_ROBOTS.encode()})
        assert {(h, p) for h, ps in oracle.items() for p in ps} == engine


def test_other_host_rules_do_not_apply(spark):
    from webcrawler_woc_spark.operators.fetch_policy import robots_decision
    from webcrawler_woc_spark.operators.politeness import parse_robots_rules

    robots = spark.createDataFrame([("other.example", ROBOTS)], "host string, text string")
    frontier = spark.createDataFrame(
        [("http://h.example/shop/item", "h.example")], "url string, host string"
    )
    out = robots_decision(frontier, parse_robots_rules(robots)).collect()
    assert out[0].allowed is True


class TestCrawlDelayGroupScoping:
    """Round-4 contract: Crawl-delay binds to the RFC 9309 selected group
    (specific-if-any-else-'*'), first delay line in file order wins, default
    when the selected groups carry none. Engine and pyoracle must agree."""

    BODIES = {
        "decoy1.example": (
            "User-agent: otherbot\nCrawl-delay: 99\nUser-agent: *\nCrawl-delay: 7\n", 7),
        "decoy2.example": ("Crawl-delay: 50\nUser-agent: *\nDisallow: /x\n", 1),
        "decoy3.example": (
            "User-agent: wocbot\nCrawl-delay: 3\nUser-agent: *\nCrawl-delay: 99\n", 3),
        "decoy4.example": (
            "User-agent: *\nDisallow: /a\nUser-agent: otherbot\nCrawl-delay: 99\n"
            "User-agent: *\nCrawl-delay: 5\n", 5),
        "decoy5.example": (
            "User-agent: wocbot\nUser-agent: helper\nDisallow: /b\n"
            "User-agent: *\nCrawl-delay: 42\n", 1),
    }

    def test_engine_scoping(self, spark):
        from webcrawler_woc_spark.operators.politeness import parse_robots_crawl_delay

        pages = spark.createDataFrame(
            [(f"http://{h}/robots.txt", body) for h, (body, _) in self.BODIES.items()],
            "url string, text string",
        )
        got = {r.host: r.crawl_delay
               for r in parse_robots_crawl_delay(pages, user_agent="wocbot").collect()}
        assert got == {h: exp for h, (_, exp) in self.BODIES.items()}

    def test_pyoracle_twin_agrees(self):
        from webcrawler_woc_spark.oracle.pyoracle import _crawl_delays

        pages = {f"http://{h}/robots.txt": body.encode()
                 for h, (body, _) in self.BODIES.items()}
        assert _crawl_delays(pages, user_agent="wocbot") == {
            h: exp for h, (_, exp) in self.BODIES.items()
        }

    def test_twin_bodies_reduce_to_min_text(self, spark):
        from webcrawler_woc_spark.operators.politeness import parse_robots_crawl_delay
        from webcrawler_woc_spark.oracle.pyoracle import _crawl_delays

        rows = [
            ("http://twin.example/robots.txt", "User-agent: *\nCrawl-delay: 9\n"),
            ("https://twin.example/robots.txt", "User-agent: *\nCrawl-delay: 11\n"),
        ]
        pages = spark.createDataFrame(rows, "url string, text string")
        got = parse_robots_crawl_delay(pages).collect()
        assert [(r.host, r.crawl_delay) for r in got] == [("twin.example", 11)]
        assert _crawl_delays({u: b.encode() for u, b in rows}) == {"twin.example": 11}
