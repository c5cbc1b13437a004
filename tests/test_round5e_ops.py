"""Round-5 batch-5 operators: hreflang alternates, URL pattern mining,
retry backoff planning, content-density segmentation, blocklist filter."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestHreflangAlternates:
    def test_extracts_all_declared_alternates(self, spark):
        from webcrawler_woc_spark.operators.canonical import hreflang_alternates

        html = (
            '<link rel="alternate" hreflang="en" href="http://s.example/en/p">'
            "<link rel=alternate hreflang=de href='/de/p'>"
            '<link hreflang="x-default" rel="alternate" href="http://s.example/p">'
            '<link rel="stylesheet" href="/css">'
            '<link rel="alternate" type="application/rss+xml" href="/feed">'
        )
        df = spark.createDataFrame([("http://s.example/p", html)], "url string, html_s string")
        pages = df.select("url", F.encode("html_s", "utf-8").alias("html"))
        got = {(r.hreflang, r.alt_url) for r in hreflang_alternates(pages).collect()}
        assert got == {
            ("en", "http://s.example/en/p"),
            ("de", "http://s.example/de/p"),
            ("x-default", "http://s.example/p"),
        }

    def test_no_alternates_no_rows(self, spark):
        from webcrawler_woc_spark.operators.canonical import hreflang_alternates

        df = spark.createDataFrame(
            [("http://s.example/p", "<html><head></head>")], "url string, html_s string"
        )
        pages = df.select("url", F.encode("html_s", "utf-8").alias("html"))
        assert hreflang_alternates(pages).count() == 0


class TestUrlPatterns:
    def test_masks_collapse_ids(self, spark):
        from webcrawler_woc_spark.operators.traps import url_patterns

        urls = (
            [(f"http://shop.example/product/{i}/review/{i*7}",) for i in range(20)]
            + [("http://shop.example/static/css",)]
            + [("http://shop.example/s/deadbeefdeadbeefdead",)]
            + [("http://shop.example/u/123e4567-e89b-12d3-a456-426614174000",)]
        )
        df = spark.createDataFrame(urls, "url string")
        got = {r.pattern: r for r in url_patterns(df).collect()}
        assert got["/product/{n}/review/{n}"].n_urls == 20
        assert got["/product/{n}/review/{n}"].example_url == "http://shop.example/product/0/review/0"
        assert got["/static/css"].n_urls == 1
        assert got["/s/{hex}"].n_urls == 1
        assert got["/u/{uuid}"].n_urls == 1

    def test_bare_host_and_query_dropped(self, spark):
        from webcrawler_woc_spark.operators.traps import url_patterns

        df = spark.createDataFrame(
            [("http://a.example",), ("http://a.example/p?id=5",), ("http://a.example/p?id=6",)],
            "url string",
        )
        got = {r.pattern: r.n_urls for r in url_patterns(df).collect()}
        assert got == {"/": 1, "/p": 2}


class TestPlanRetries:
    def test_backoff_doubles_and_caps(self, spark):
        from webcrawler_woc_spark.operators.fetch_policy import plan_retries

        rows = [(f"http://h/p{n}", n, 1000000) for n in (1, 2, 3, 7, 8, 9)]
        df = spark.createDataFrame(rows, "url string, n_failures int, last_attempt_ms bigint")
        # give_up_after raised so the exponent cap is reachable
        got = {r.n_failures: r for r in plan_retries(df, give_up_after=10).collect()}
        assert got[1].backoff_ms == 1000
        assert got[2].backoff_ms == 2000
        assert got[3].backoff_ms == 4000
        assert got[1].next_attempt_ms == 1001000
        # cap: 2^min(n-1, 6) -> n=7 hits it, n=8/9 stay there
        assert got[7].backoff_ms == 64000
        assert got[8].backoff_ms == 64000
        assert got[9].backoff_ms == 64000
        assert all(got[n].give_up == 0 for n in (1, 2, 3, 7, 8, 9))

    def test_give_up_rows(self, spark):
        from webcrawler_woc_spark.operators.fetch_policy import plan_retries

        df = spark.createDataFrame(
            [("http://h/a", 5, 10), ("http://h/b", 6, 10)],
            "url string, n_failures int, last_attempt_ms bigint",
        )
        got = {r.url: r for r in plan_retries(df).collect()}
        assert got["http://h/a"].give_up == 0
        assert got["http://h/a"].next_attempt_ms == 10 + 16000
        assert got["http://h/b"].give_up == 1
        assert got["http://h/b"].backoff_ms == 0
        assert got["http://h/b"].next_attempt_ms is None


class TestContentDensity:
    def test_nav_shell_scores_low_article_high(self, spark):
        from webcrawler_woc_spark.operators.textstats import content_density

        article = "\n".join(
            [
                '<div class="nav"><a href="/">home</a></div>',
                "<p>" + "real sentence content here " * 5 + "</p>",
                "<p>" + "another long paragraph of body text " * 4 + "</p>",
                "<footer><a>about</a><a>legal</a></footer>",
            ]
        )
        nav_shell = "\n".join(
            ['<a href="/%d">x</a>' % i for i in range(10)]
        )
        df = spark.createDataFrame(
            [(1, article), (2, nav_shell)], "doc_id bigint, html string"
        )
        got = {r.doc_id: r for r in content_density(df).collect()}
        assert got[1].n_content_lines == 2
        assert got[1].density_ppm > 800000
        assert got[2].n_content_lines == 0
        assert got[2].density_ppm == 0

    def test_empty_page(self, spark):
        from webcrawler_woc_spark.operators.textstats import content_density

        df = spark.createDataFrame([(1, "")], "doc_id bigint, html string")
        (r,) = content_density(df).collect()
        assert (r.text_chars, r.content_chars, r.density_ppm) == (0, 0, 0)


class TestBlocklistFilter:
    def test_category_counts_and_block(self, spark):
        from webcrawler_woc_spark.operators.textstats import blocklist_filter

        df = spark.createDataFrame(
            [
                (1, "an ordinary page about cooking"),
                (2, "play Casino poker tonight"),
                (3, "buy viagra now"),
                (4, "the scrabble crab page"),  # substring of blockwords: no hit
            ],
            "doc_id bigint, text string",
        )
        got = {r.doc_id: r for r in blocklist_filter(df).collect()}
        assert got[1].blocked == 0
        assert (got[2].gambling_hits, got[2].blocked) == (2, 1)
        assert (got[3].pharma_hits, got[3].blocked) == (1, 1)
        assert got[4].blocked == 0

    def test_rethreshold_without_rescan(self, spark):
        from webcrawler_woc_spark.operators.textstats import blocklist_filter

        df = spark.createDataFrame(
            [(1, "poker once"), (2, "poker casino jackpot")], "doc_id bigint, text string"
        )
        got = {r.doc_id: r.blocked for r in blocklist_filter(df, max_hits=1).collect()}
        assert got == {1: 0, 2: 1}
