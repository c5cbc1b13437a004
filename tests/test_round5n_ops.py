"""Round-5 batch-14 operators: schedule makespan, feature-hash embedding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestScheduleMakespan:
    def test_critical_host_and_defaults(self, spark):
        from webcrawler_woc_spark.operators.fetch_policy import schedule_makespan

        rows = [
            ("fast", 100, 100),     # 99 * 100 = 9900
            ("slow", 20, 1000),     # 19 * 1000 = 19000 <- critical
            ("nodelay", 30, None),  # default 500 -> 14500
            ("single", 1, 5000),    # 0
        ]
        df = spark.createDataFrame(rows, "host string, n_urls int, delay_ms bigint")
        got = {r.host: r for r in schedule_makespan(df).collect()}
        assert got["slow"].host_time_ms == 19000 and got["slow"].is_critical == 1
        assert got["fast"].is_critical == 0
        assert got["nodelay"].host_time_ms == 29 * 500
        assert got["single"].host_time_ms == 0
        assert all(r.makespan_ms == 19000 for r in got.values())

    def test_tied_critical_hosts_all_flagged(self, spark):
        from webcrawler_woc_spark.operators.fetch_policy import schedule_makespan

        df = spark.createDataFrame(
            [("a", 3, 100), ("b", 3, 100)], "host string, n_urls int, delay_ms bigint"
        )
        got = [r.is_critical for r in schedule_makespan(df).collect()]
        assert got == [1, 1]


class TestHashEmbedding:
    def test_counts_and_merge_property(self, spark):
        from webcrawler_woc_spark.operators.textstats import hash_embedding

        docs = spark.createDataFrame(
            [(1, "alpha beta alpha"), (2, "alpha"), (3, "")],
            "doc_id bigint, text string",
        )
        rows = hash_embedding(docs, dims=8).collect()
        v = {}
        for r in rows:
            v.setdefault(r.doc_id, {})[r.dim] = r.cnt
        assert sum(v[1].values()) == 3
        assert sum(v[2].values()) == 1
        assert 3 not in v  # empty doc has no rows (sparse form)
        # same token -> same dim across docs: doc2's single dim is in doc1's
        (d2dim,) = v[2].keys()
        assert d2dim in v[1]
        # merge property: doc1 = doc2 ('alpha') + 'beta' + 'alpha'
        assert v[1][d2dim] >= 2

    def test_dims_bounded(self, spark):
        from webcrawler_woc_spark.operators.textstats import hash_embedding

        docs = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(200)))], "doc_id bigint, text string"
        )
        rows = hash_embedding(docs, dims=16).collect()
        assert all(0 <= r.dim < 16 for r in rows)
        assert sum(r.cnt for r in rows) == 200


class TestStripTrackingWired:
    """Opt-in frontier canonicalization: utm-tagged variants of one page
    must collapse to one frontier entry / one seen row; default off keeps
    the raw extracted URLs (reference parity)."""

    @pytest.fixture(scope="class")
    def tiny(self, spark):
        def page(body):
            return f"<html><body>{body}</body></html>".encode()

        pages_dict = {
            "http://h0.example/page/0": page(
                '<a href="/page/1?utm_source=feed">a</a>'
                '<a href="/page/1">b</a>'
                '<a href="/page/2?id=5">real param</a>'
            ),
            "http://h0.example/page/1": page("clean target"),
            "http://h0.example/page/2?id=5": page("param page"),
        }
        rows = [(u, b, b.decode()) for u, b in pages_dict.items()]
        return spark.createDataFrame(rows, "url string, html binary, text string")

    def _run(self, spark, pages, tmp, strip):
        from pyspark.sql import functions as F

        from webcrawler_woc_spark.config import CrawlConfig
        from webcrawler_woc_spark.plans.crawl import crawl
        from webcrawler_woc_spark.plans.state import Warehouse

        cfg = CrawlConfig(
            whitelist=["h0.example"], depth=2, strip_tracking=strip
        )
        wh = Warehouse(spark, tmp)
        crawl(
            spark, wh, pages,
            [("http://h0.example/page/0?utm_campaign=x", 1.0)], cfg,
            content_type_expr=lambda url: F.lit("text/html"),
        )
        seen = wh.read_waves("seen", up_to_wave=99)
        return {r["url"] for r in seen.collect()}

    def test_strip_collapses_variants_and_seed(self, spark, tiny):
        import tempfile

        with tempfile.TemporaryDirectory() as tmp:
            seen = self._run(spark, tiny, tmp, strip=True)
        # the tagged seed was stripped and fetched as the clean page
        assert "http://h0.example/page/0" in seen
        assert not any("utm" in u for u in seen)
        # both link variants collapsed to the one clean target
        assert "http://h0.example/page/1" in seen
        # a REAL query param is untouched
        assert "http://h0.example/page/2?id=5" in seen

    def test_default_off_keeps_raw_urls(self, spark, tiny):
        import tempfile

        with tempfile.TemporaryDirectory() as tmp:
            seen = self._run(spark, tiny, tmp, strip=False)
        # raw tagged seed fails the corpus fetch (not present) but IS seen
        assert "http://h0.example/page/0?utm_campaign=x" in seen
        assert "http://h0.example/page/0" not in seen
