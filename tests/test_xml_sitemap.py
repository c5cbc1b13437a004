"""XML sitemap parsing (operators/sitemaps.parse_xml_sitemap): loc
extraction with trim, single-pass entity unescape, index detection."""

from __future__ import annotations


def test_loc_extraction_trim_and_entities(spark):
    from webcrawler_woc_spark.operators.sitemaps import parse_xml_sitemap

    body = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>  http://a.example/p?x=1&amp;y=2  </loc></url>"
        "<url><loc>http://a.example/amp-literal?q=&amp;lt;tag&amp;gt;</loc></url>"
        "<url><loc>http://a.example/quote&apos;d</loc></url>"
        "</urlset>"
    )
    df = spark.createDataFrame([("http://a.example/s.xml", body)], "sitemap_url string, body string")
    rows = sorted(parse_xml_sitemap(df).collect(), key=lambda r: r.idx)
    assert [r.url for r in rows] == [
        "http://a.example/p?x=1&y=2",
        # &amp;lt; must decode ONCE (to &lt;), never twice (to <)
        "http://a.example/amp-literal?q=&lt;tag&gt;",
        "http://a.example/quote'd",
    ]
    assert all(r.is_index is False for r in rows)


def test_sitemapindex_flag_and_order(spark):
    from webcrawler_woc_spark.operators.sitemaps import parse_xml_sitemap

    body = (
        "<sitemapindex>"
        "<sitemap><loc>http://a.example/s2.xml</loc></sitemap>"
        "<sitemap><loc>http://a.example/s1.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame([("http://a.example/i.xml", body)], "sitemap_url string, body string")
    rows = sorted(parse_xml_sitemap(df).collect(), key=lambda r: r.idx)
    assert [(r.idx, r.url, r.is_index) for r in rows] == [
        (0, "http://a.example/s2.xml", True),  # document order preserved
        (1, "http://a.example/s1.xml", True),
    ]


def test_locless_body_yields_no_rows(spark):
    from webcrawler_woc_spark.operators.sitemaps import parse_xml_sitemap

    df = spark.createDataFrame(
        [("http://a.example/s.xml", "<urlset></urlset>"), ("http://b.example/s.xml", "")],
        "sitemap_url string, body string",
    )
    assert parse_xml_sitemap(df).count() == 0


class TestXmlSitemapsInCrawl:
    """Opt-in cfg.sitemap_xml wires parse_xml_sitemap semantics into the
    no-depth crawl's wave-0 sitemap discovery: urlset entries become child
    links, sitemapindex entries recurse ONE level, nested indexes are
    dropped, and with the flag OFF the default path ignores XML exactly as
    the reference does (crawler.rs:294-300)."""

    SEED = "http://h0.example/page/0"

    def _fixture(self, spark):
        from pyspark.sql import functions as F

        page = lambda body: f"<html><body>{body}</body></html>".encode()
        pages_dict = {
            "http://h0.example/robots.txt": (
                b"Sitemap: http://h0.example/smindex.xml\n"
                b"Sitemap: http://h0.example/plain_sitemap.txt\n"
            ),
            "http://h0.example/smindex.xml": (
                b"<sitemapindex>"
                b"<sitemap><loc>http://h0.example/sm1.xml</loc></sitemap>"
                b"<sitemap><loc>http://h0.example/sm2.xml</loc></sitemap>"
                b"</sitemapindex>"
            ),
            "http://h0.example/sm1.xml": (
                b"<urlset>"
                b"<url><loc> http://h0.example/page/1 </loc></url>"
                b"<url><loc>http://h0.example/page/2?a=1&amp;b=2</loc></url>"
                b"</urlset>"
            ),
            # a NESTED index: its children must NOT be crawled (one level)
            "http://h0.example/sm2.xml": (
                b"<sitemapindex>"
                b"<sitemap><loc>http://h0.example/sm3.xml</loc></sitemap>"
                b"</sitemapindex>"
            ),
            "http://h0.example/sm3.xml": (
                b"<urlset><url><loc>http://h0.example/page/9</loc></url></urlset>"
            ),
            "http://h0.example/plain_sitemap.txt": b"http://h0.example/page/3\n",
            self.SEED: page("seed"),
            "http://h0.example/page/1": page("one"),
            "http://h0.example/page/2?a=1&b=2": page("two"),
            "http://h0.example/page/3": page("three"),
            "http://h0.example/page/9": page("behind nested index"),
        }
        rows = [(u, b, b.decode()) for u, b in pages_dict.items()]
        pages = spark.createDataFrame(rows, "url string, html binary, text string")
        ct = lambda url: (
            F.when(url.endswith(".xml"), F.lit("application/xml"))
            .when(url.endswith(".txt"), F.lit("text/plain"))
            .otherwise(F.lit("text/html"))
        )
        return pages, ct

    def _seen(self, spark, xml_on):
        import tempfile

        from webcrawler_woc_spark.config import CrawlConfig
        from webcrawler_woc_spark.plans.crawl import crawl, read_seen
        from webcrawler_woc_spark.plans.state import Warehouse

        pages, ct = self._fixture(spark)
        cfg = CrawlConfig(
            whitelist=["h0.example"], depth=None, n_buckets=4, sitemap_xml=xml_on
        )
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, [(self.SEED, 1.0)], cfg, content_type_expr=ct)
            return {r["url"] for r in read_seen(wh).collect()}

    def test_flag_off_ignores_xml(self, spark):
        seen = self._seen(spark, xml_on=False)
        assert seen == {self.SEED, "http://h0.example/page/3"}

    def test_flag_on_consumes_urlset_and_one_level_index(self, spark):
        seen = self._seen(spark, xml_on=True)
        assert "http://h0.example/page/1" in seen
        assert "http://h0.example/page/2?a=1&b=2" in seen  # entity-unescaped
        assert "http://h0.example/page/3" in seen  # text path still live
        assert "http://h0.example/page/9" not in seen  # nested index dropped
        # sitemap fetches themselves are never crawled/emitted
        assert not any(u.endswith((".xml", ".txt")) for u in seen)
