"""Regression pins for the round-5 batch-4..8 review findings: ANSI int32
overflows, URL-casing preservation, whitespace-tolerant soft-404 phrases,
phantom LPA nodes, resolve_hosts-schema co-hosting."""

from __future__ import annotations

from pyspark.sql import functions as F


def _pages(spark, rows):
    df = spark.createDataFrame(rows, "url string, html_s string")
    return df.select(
        "url",
        F.encode("html_s", "utf-8").alias("html"),
        F.lit(None).cast("map<string,string>").alias("headers"),
    )


class TestCasingPreserved:
    def test_canonical_target_keeps_path_case(self, spark):
        from webcrawler_woc_spark.operators.canonical import canonical_links

        pages = _pages(
            spark,
            [("http://a.example/About",
              '<LINK REL="canonical" HREF="http://a.example/About">')],
        )
        (r,) = canonical_links(pages).collect()
        assert r.canonical_url == "http://a.example/About"

    def test_header_target_keeps_case(self, spark):
        from webcrawler_woc_spark.operators.canonical import canonical_links

        df = spark.createDataFrame(
            [("http://a.example/p", "<html>",
              {"link": '<http://a.example/CamelCase>; REL="canonical"'})],
            "url string, html_s string, headers map<string,string>",
        )
        pages = df.select("url", F.encode("html_s", "utf-8").alias("html"), "headers")
        (r,) = canonical_links(pages).collect()
        assert r.canonical_url == "http://a.example/CamelCase"

    def test_meta_refresh_target_keeps_case(self, spark):
        from webcrawler_woc_spark.operators.canonical import meta_refresh_redirects

        pages = _pages(
            spark,
            [("http://a.example/old",
              '<META HTTP-EQUIV="Refresh" CONTENT="0; URL=/Moved/Here">')],
        )
        (r,) = meta_refresh_redirects(pages).collect()
        assert r.refresh_target == "http://a.example/Moved/Here"

    def test_hreflang_url_case_kept_tag_lowered(self, spark):
        from webcrawler_woc_spark.operators.canonical import hreflang_alternates

        pages = _pages(
            spark,
            [("http://s.example/p",
              '<LINK REL="alternate" HREFLANG="EN-gb" HREF="/En/Page">')],
        )
        (r,) = hreflang_alternates(pages).collect()
        assert r.hreflang == "en-gb"
        assert r.alt_url == "http://s.example/En/Page"


class TestOverflowSafety:
    def test_content_density_long_single_line(self, spark):
        """6 KB one-line page: int32 * 1e6 would overflow (ANSI crash)."""
        from webcrawler_woc_spark.operators.textstats import content_density

        df = spark.createDataFrame(
            [(1, "x" * 6000), (2, "<b>" * 2500)], "doc_id bigint, html string"
        )
        got = {r.doc_id: r for r in content_density(df).collect()}
        assert got[1].n_content_lines == 1
        assert got[1].density_ppm == 1_000_000
        assert got[2].n_content_lines == 0

    def test_nofollow_many_links(self, spark):
        from webcrawler_woc_spark.operators.canonical import nofollow_stats

        html = '<a href="/x">y</a>' * 3000
        pages = _pages(spark, [("u", html)])
        (r,) = nofollow_stats(pages).collect()
        assert r.n_links == 3000
        assert r.follow_ratio_ppm == 1_000_000


class TestSoft404Whitespace:
    def test_phrase_matches_across_newlines_and_double_spaces(self, spark):
        from webcrawler_woc_spark.operators.traps import soft404_flags

        body = "word " * 100
        rows = [
            ("http://h/a", "h", 200, "Sorry, page  not\nfound. " + body),
            ("http://h/b", "h", 200, body),
            ("http://h/c", "h", 200, body + " filler"),
        ]
        df = spark.createDataFrame(rows, "url string, host string, http_status int, text string")
        got = {r.url: r.err_phrase for r in soft404_flags(df).collect()}
        assert got["http://h/a"] == 1
        assert got["http://h/b"] == 0


class TestLpaPhantomNodes:
    def test_edges_to_unknown_nodes_ignored(self, spark):
        from webcrawler_woc_spark.operators.graph import label_propagation

        nodes = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
        # 999 does not exist: its edge must neither vote nor appear
        e = spark.createDataFrame([(1, 2), (2, 999)], "src bigint, dst bigint")
        rows = label_propagation(nodes, e, iterations=3).collect()
        assert {r.doc_id for r in rows} == {1, 2}
        assert all(r.label == 1 for r in rows)


class TestCohostResolveSchema:
    def test_accepts_ipv4_ipv6_columns(self, spark):
        from webcrawler_woc_spark.operators.dns import cohost_clusters

        rows = [
            ("a.example", "10.0.0.1", None),
            ("b.example", None, "::1"),
            ("c.example", "10.0.0.1", "::2"),
        ]
        df = spark.createDataFrame(rows, "host string, ipv4 string, ipv6 string")
        got = {r.host: r for r in cohost_clusters(df).collect()}
        assert got["a.example"].n_cohosts == 2  # a + c share 10.0.0.1
        assert got["b.example"].ip == "::1"
        assert got["b.example"].n_cohosts == 1
