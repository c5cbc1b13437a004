"""Sitemap discovery from robots.txt — first wave of no-depth mode only
(reference crawl_sitemaps / crawl_sitemap, src/crawler.rs:254-307).

Semantics preserved exactly:
* robots URL = seed with path set to "robots.txt" (query/fragment kept,
  crawler.rs:255-256);
* 'Sitemap' lines sliced at byte 9, first whitespace token, normalized
  against the SEED url (crawler.rs:265-270);
* only text/plain sitemaps parse (type/subtype match, params ignored —
  crawler.rs:294-300); XML sitemaps are silently ignored;
* one URL per line, trimmed, normalized against the SITEMAP url
  (links.rs:277-282);
* neither the robots fetch nor the sitemap page itself is marked crawled or
  emitted — only the extracted links enter the wave channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import link_type_col, links_from_text_udf, sitemap_urls_udf
from .fetch import default_content_type_expr


def robots_url_of(seed_url: str) -> str:
    """seed with path replaced by /robots.txt, query/fragment preserved
    (rust Url::set_path semantics)."""
    scheme_end = seed_url.find("://")
    if scheme_end == -1:
        return seed_url
    rest_start = scheme_end + 3
    path_start = len(seed_url)
    for i in range(rest_start, len(seed_url)):
        if seed_url[i] in "/?#":
            path_start = i
            break
    authority = seed_url[:path_start]
    tail = seed_url[path_start:]
    # strip existing path, keep ?query#fragment
    qf = ""
    for i, ch in enumerate(tail):
        if ch in "?#":
            qf = tail[i:]
            break
    return authority + "/robots.txt" + qf


def _unescape_entities(col):
    """The five predefined XML entities, single-pass decode — &amp; LAST so
    sequences like &amp;lt; decode once, not twice (sitemaps.org requires
    entity-escaped URLs). THE one entity table: _xml_loc_blob,
    parse_xml_sitemap and parse_sitemap_entries all decode through here."""
    out = col
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def _xml_loc_blob():
    """The <loc> entries of the ``body`` column as one newline-joined,
    entity-unescaped text blob — the EXACT input shape of the text/plain
    sitemap parser, so XML-discovered links flow through the same
    links_from_text normalization as text-sitemap lines (one canonical
    form, not two). Unescaping the joined blob equals unescaping per-loc:
    entities never contain newlines. &amp; last — single decode."""
    blob = F.array_join(
        F.expr(r"regexp_extract_all(body, '<loc>\\s*([^<]+?)\\s*</loc>', 1)"), "\n"
    )
    return _unescape_entities(blob)


def sitemap_children(
    spark: SparkSession,
    pages: DataFrame,
    seed_urls: list[str],
    xml: bool = False,
    content_type_expr=None,
) -> DataFrame:
    """Child links contributed by the seeds' sitemaps (url, link_type).

    ``xml=False`` (default) preserves reference parity: only text/plain
    sitemaps parse, XML silently ignored (crawler.rs:294-300). ``xml=True``
    additionally consumes text/xml and application/xml bodies via
    parse_xml_sitemap semantics — <urlset> entries become child links, and
    <sitemapindex> entries are fetched ONE level deep (their <urlset>
    children join the link stream; nested indexes are dropped) — the
    real-web behavior (Common Crawl sitemaps are XML) behind an opt-in so
    default-path goldens never move."""
    if content_type_expr is None:
        content_type_expr = default_content_type_expr

    seeds_df = spark.createDataFrame(
        [(u, robots_url_of(u)) for u in seed_urls], "seed_url string, robots_url string"
    )
    robots_pages = pages.select(F.col("url").alias("robots_url"), F.col("html").alias("robots_html"))
    # seeds are tiny: broadcast them into the corpus probe
    with_robots = F.broadcast(seeds_df).join(robots_pages, "robots_url", "inner")

    sitemap_urls = with_robots.select(
        F.explode(sitemap_urls_udf(F.col("robots_html"), F.col("seed_url"))).alias("sitemap_url")
    ).distinct()

    sitemap_pages = pages.select(
        F.col("url").alias("sitemap_url"), F.col("html").alias("sitemap_html")
    )

    def fetch(urls: DataFrame) -> DataFrame:
        return urls.join(sitemap_pages, "sitemap_url", "inner").withColumn(
            "ct", content_type_expr(F.col("sitemap_url"))
        )

    def links_of(sm: DataFrame, body_col) -> DataFrame:
        return sm.select(
            F.explode(links_from_text_udf(body_col, F.col("sitemap_url"))).alias("url")
        )

    mime = F.trim(F.split(F.col("ct"), ";").getItem(0))
    fetched = fetch(sitemap_urls)
    # text/plain gate on type/subtype only (params ignored, crawler.rs:294-300)
    links = links_of(fetched.filter(mime == "text/plain"), F.col("sitemap_html"))

    if xml:
        xml_sm = fetched.filter(mime.isin("text/xml", "application/xml")).withColumn(
            "body", F.decode(F.col("sitemap_html"), "UTF-8")
        )
        is_index = F.col("body").contains("<sitemapindex")
        links = links.unionByName(links_of(xml_sm.filter(~is_index), _xml_loc_blob()))
        # one-level recursion: index entries are SUB-SITEMAP urls — run them
        # through the same normalize -> fetch -> gate path, keep urlsets only
        sub_urls = links_of(xml_sm.filter(is_index), _xml_loc_blob()).select(
            F.col("url").alias("sitemap_url")
        ).distinct()
        sub = fetch(sub_urls).filter(mime.isin("text/xml", "application/xml")).withColumn(
            "body", F.decode(F.col("sitemap_html"), "UTF-8")
        )
        links = links.unionByName(
            links_of(sub.filter(~F.col("body").contains("<sitemapindex")), _xml_loc_blob())
        )

    return links.withColumn("link_type", link_type_col(F.col("url")))


def parse_xml_sitemap(sitemaps: DataFrame) -> DataFrame:
    """XML sitemap / sitemapindex parsing (sitemaps.org protocol) — the
    real-web format the reference never handles (its sitemap path is
    text/plain only, src/crawler.rs sitemap branch; Common Crawl sitemaps
    are XML). Input (sitemap_url, body); output one row per <loc> entry:
    (sitemap_url, idx, url, is_index) where idx preserves document order
    and is_index marks <sitemapindex> bodies (entries are then SUB-SITEMAP
    urls to fetch, not pages — the one-level nesting signal a crawler's
    sitemap loop consumes).

    Pure Catalyst: regexp_extract_all over <loc> with surrounding
    whitespace trimmed, then the five predefined XML entities unescaped
    (sitemaps.org requires entity-escaped URLs) — &amp; LAST so sequences
    like &amp;lt; decode once, not twice. No XML library: <loc> extraction
    is regular, the full-document grammar is irrelevant to it, and the
    regex stays inside whole-stage codegen at 100 TB."""
    locs = F.expr(r"regexp_extract_all(body, '<loc>\\s*([^<]+?)\\s*</loc>', 1)")

    return (
        sitemaps.select(
            "sitemap_url",
            F.col("body").contains("<sitemapindex").alias("is_index"),
            F.posexplode(locs).alias("idx", "loc"),
        )
        .select(
            "sitemap_url",
            F.col("idx").cast("int").alias("idx"),
            _unescape_entities(F.col("loc")).alias("url"),
            "is_index",
        )
    )


PRIORITY_PPM = 1_000_000


def parse_sitemap_entries(sitemaps: DataFrame) -> DataFrame:
    """Full <url> entry parse — the recrawl-scheduling metadata
    parse_xml_sitemap's <loc>-only pass drops: sitemaps.org's OPTIONAL
    <lastmod>/<changefreq>/<priority> children are exactly what an
    incremental crawler keys on (lastmod > last capture => refetch;
    priority orders the fetch queue; changefreq seeds the recrawl
    interval before any observed-change history exists).

    Input (sitemap_url, body); output one row per <url> block, document
    order preserved: (sitemap_url, idx, url, lastmod, changefreq,
    priority_ppm) — lastmod/changefreq NULL when absent, priority an
    integer ppm (0.8 -> 800000; NULL when absent) so the frame
    value-hashes across engines.

    Pure Catalyst: one lazy-dotall regexp_extract_all splits the document
    into <url> blocks (posexplode keeps order), three per-block
    regexp_extracts pull the children — all inside whole-stage codegen;
    no XML library for the same reason as parse_xml_sitemap (the element
    grammar here is regular). Feed the output straight to
    operators/recrawl.py's scheduling: join on url against the
    latest-capture table and keep rows with lastmod past the capture."""
    blocks = F.expr(r"regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)")

    def child(tag: str):
        ex = F.regexp_extract(F.col("_blk"), rf"<{tag}>\s*([^<]+?)\s*</{tag}>", 1)
        return F.when(ex == "", F.lit(None)).otherwise(ex)

    return sitemaps.select(
        "sitemap_url", F.posexplode(blocks).alias("idx", "_blk")
    ).select(
        "sitemap_url",
        F.col("idx").cast("int").alias("idx"),
        _unescape_entities(child("loc")).alias("url"),
        child("lastmod").alias("lastmod"),
        child("changefreq").alias("changefreq"),
        # decimal (not float) math: 0.8 * 1e6 is exact in both engines
        (child("priority").cast("decimal(7,6)") * PRIORITY_PPM)
        .cast("int")
        .alias("priority_ppm"),
    )


def sitemap_coverage(declared: DataFrame, crawled: DataFrame) -> DataFrame:
    """Per-host sitemap-coverage audit — the readout every crawl-ops team
    watches: of the URLs a host DECLARES in its sitemaps, how many did we
    actually capture, and how much did we crawl that the host never
    declared? Low coverage means the scheduler starves the host (budget /
    politeness misconfiguration); a large undeclared share means trap
    subtrees or parameter explosions are eating the budget the declared
    pages should get.

    Inputs: ``declared`` (host, url) from parse_sitemap_entries /
    sitemap_children; ``crawled`` (host, url) from the capture table.
    Output per host: (host, n_declared, n_crawled, n_both,
    n_declared_only, n_crawled_only, coverage_ppm = n_both * 1e6 div
    max(n_declared, 1)).

    One full-outer join on (host, url) — both sides URL-cardinality,
    pre-deduped here; then a host-cardinality rollup. The full outer
    cannot broadcast-hash and both sides are corpus-scale: SMJ on the
    (host, url) key is the right plan (allowlisted, the snapshot-diff
    shape)."""
    d = declared.select("host", "url").distinct().withColumn("_d", F.lit(1))
    c = crawled.select("host", "url").distinct().withColumn("_c", F.lit(1))
    joined = d.join(c, ["host", "url"], "full_outer")
    return (
        joined.groupBy("host")
        .agg(
            F.sum(F.coalesce("_d", F.lit(0))).cast("bigint").alias("n_declared"),
            F.sum(F.coalesce("_c", F.lit(0))).cast("bigint").alias("n_crawled"),
            F.sum((F.col("_d").isNotNull() & F.col("_c").isNotNull()).cast("int"))
            .cast("bigint")
            .alias("n_both"),
        )
        .withColumn("n_declared_only", (F.col("n_declared") - F.col("n_both")).cast("bigint"))
        .withColumn("n_crawled_only", (F.col("n_crawled") - F.col("n_both")).cast("bigint"))
        .withColumn(
            "coverage_ppm",
            F.expr("(n_both * 1000000) div greatest(n_declared, 1)").cast("bigint"),
        )
    )
