"""host_expr (Catalyst) must agree with urlnorm.host_of (oracle kernel)."""

from pyspark.sql import functions as F

from webcrawler_woc_spark.functions.urlnorm import host_of
from webcrawler_woc_spark.operators.fetch import host_expr

CASES = [
    "http://host0.example/page/1",
    "https://a.b.example:8080/x?q=1#f",
    "http://user@h.example/p",
    "http://[::1]/p",
    "http://[::1]:9000/p",
    "mailto:user5@host5.example",
    "tel:+15550001111",
    "foo:bar",
    "ftp://files.example/a",
    "http://host3.example/",
    # a file URL's empty host is no host, on both sides
    "file:///etc/passwd",
    "file://h.example/p",
]


def test_host_expr_matches_host_of(spark):
    df = spark.createDataFrame([(u,) for u in CASES], "url string")
    rows = df.select("url", host_expr(F.col("url")).alias("host")).collect()
    for r in rows:
        assert r["host"] == host_of(r["url"]), r["url"]


class TestRegistrableDomain:
    def test_suffix_rules(self, spark):
        from webcrawler_woc_spark.functions.domains import registrable_domain

        cases = {
            "www.example.co.uk": "example.co.uk",   # listed 2-level suffix
            "a.b.example.com": "example.com",       # deep subdomain
            "example.org": "example.org",           # already registrable
            "cdn.shop.com.au": "shop.com.au",       # listed 2-level suffix
            "co.uk": "co.uk",                       # bare suffix passes through
            "localhost": "localhost",               # single label
        }
        df = spark.createDataFrame([(h,) for h in cases], "host string")
        got = {r.host: r.d for r in df.select("host", registrable_domain(df.host).alias("d")).collect()}
        assert got == cases
