"""Round-5 batch-7 operators: label-propagation communities, page metadata
extraction, nofollow outlink stats, adaptive per-host timeout planning."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestLabelPropagation:
    def test_two_cliques_converge_to_two_communities(self, spark):
        from webcrawler_woc_spark.operators.graph import label_propagation

        def clique(base, n):
            return [
                (base + i, base + j) for i in range(n) for j in range(i + 1, n)
            ]

        edges = clique(0, 4) + clique(10, 4) + [(3, 10)]  # one weak bridge
        nodes = spark.createDataFrame(
            [(i,) for i in [0, 1, 2, 3, 10, 11, 12, 13]], "doc_id bigint"
        )
        e = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {r.doc_id: r.label for r in label_propagation(nodes, e, iterations=3).collect()}
        assert {got[0], got[1], got[2], got[3]} == {0}
        assert {got[10], got[11], got[12], got[13]} == {10}

    def test_isolated_node_keeps_label(self, spark):
        from webcrawler_woc_spark.operators.graph import label_propagation

        nodes = spark.createDataFrame([(1,), (2,), (99,)], "doc_id bigint")
        e = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
        got = {r.doc_id: r.label for r in label_propagation(nodes, e, iterations=2).collect()}
        assert got[99] == 99
        assert got[1] == got[2] == 1

    def test_tiebreak_is_min_label(self, spark):
        """A node with two equally-voted neighbor labels adopts the smaller."""
        from webcrawler_woc_spark.operators.graph import label_propagation

        nodes = spark.createDataFrame([(5,), (7,), (9,)], "doc_id bigint")
        e = spark.createDataFrame([(5, 9), (7, 9)], "src bigint, dst bigint")
        got = {r.doc_id: r.label for r in label_propagation(nodes, e, iterations=1).collect()}
        assert got[9] == 5


class TestPageMetadata:
    def test_all_fields(self, spark):
        from webcrawler_woc_spark.operators.canonical import page_metadata

        html = (
            '<html lang="en-GB"><head><title> My Page </title>'
            '<meta name="description" content="A fine page">'
            '<meta property="og:title" content="Social Title"></head>'
        )
        df = spark.createDataFrame([("u", html)], "url string, html_s string")
        pages = df.select("url", F.encode("html_s", "utf-8").alias("html"))
        (r,) = page_metadata(pages).collect()
        assert r.title == "My Page"
        assert r.meta_description == "A fine page"
        assert r.og_title == "Social Title"
        assert r.html_lang == "en-GB"

    def test_missing_fields_are_null(self, spark):
        from webcrawler_woc_spark.operators.canonical import page_metadata

        df = spark.createDataFrame([("u", "<html><body>x")], "url string, html_s string")
        pages = df.select("url", F.encode("html_s", "utf-8").alias("html"))
        (r,) = page_metadata(pages).collect()
        assert (r.title, r.meta_description, r.og_title, r.html_lang) == (None,) * 4


class TestNofollowStats:
    def test_counts_and_word_boundary(self, spark):
        from webcrawler_woc_spark.operators.canonical import nofollow_stats

        html = (
            '<a href="/a">a</a>'
            '<a rel="nofollow" href="/b">b</a>'
            "<a rel='nofollow noopener' href='/c'>c</a>"
            '<a rel="nofollowish" href="/d">d</a>'
            '<a href="/e" rel=nofollow>e</a>'
        )
        df = spark.createDataFrame([("u", html)], "url string, html_s string")
        pages = df.select("url", F.encode("html_s", "utf-8").alias("html"))
        (r,) = nofollow_stats(pages).collect()
        assert r.n_links == 5
        assert r.n_nofollow == 3
        assert r.follow_ratio_ppm == (2 * 1_000_000) // 5

    def test_no_links(self, spark):
        from webcrawler_woc_spark.operators.canonical import nofollow_stats

        df = spark.createDataFrame([("u", "<p>plain</p>")], "url string, html_s string")
        pages = df.select("url", F.encode("html_s", "utf-8").alias("html"))
        (r,) = nofollow_stats(pages).collect()
        assert (r.n_links, r.n_nofollow, r.follow_ratio_ppm) == (0, 0, 0)


class TestAdaptiveTimeouts:
    def test_nearest_rank_and_clamps(self, spark):
        from webcrawler_woc_spark.operators.fetch_policy import plan_adaptive_timeouts

        rows = (
            # slow host: 20 fetches 1000..20000 -> p95 = 19th value = 19000
            [("slow", 1000 * i) for i in range(1, 21)]
            # fast host: all 100ms -> 2*p95=200 clamps up to 1000
            + [("fast", 100)] * 10
            # glacial host: p95*2 over cap -> clamps to 30000
            + [("glacial", 25000)] * 4
        )
        df = spark.createDataFrame(rows, "host string, fetch_ms bigint")
        got = {r.host: r for r in plan_adaptive_timeouts(df).collect()}
        assert got["slow"].p95_ms == 19000
        assert got["slow"].timeout_ms == 30000  # 38000 capped
        assert got["fast"].timeout_ms == 1000
        assert got["glacial"].timeout_ms == 30000
        # self-consistency: would-timeout count under the new timeout
        assert got["slow"].n_would_timeout == 0  # capped at 30000 > max 20000
        assert got["fast"].n_would_timeout == 0

    def test_would_timeout_counts_aborted(self, spark):
        from webcrawler_woc_spark.operators.fetch_policy import plan_adaptive_timeouts

        # p95 of [100]*19 + [40000] is 100 (19th of 20) -> timeout 1000
        rows = [("h", 100)] * 19 + [("h", 40000)]
        df = spark.createDataFrame(rows, "host string, fetch_ms bigint")
        (r,) = plan_adaptive_timeouts(df).collect()
        assert r.p95_ms == 100
        assert r.timeout_ms == 1000
        assert r.n_would_timeout == 1
