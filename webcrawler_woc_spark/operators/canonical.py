"""In-band page signals read without a DOM: rel=canonical and meta-refresh
(the two URL-aliasing channels a crawl must honor before dedup/indexing),
plus the payload and header probes of the query catalogue — MIME sniffing,
charset detection, page metadata, nofollow profile and raw header-block
parsing. None of it runs in the crawl loop.

The reference crawler (src/crawler.rs) follows only server-side redirects
implicitly through reqwest; real webtext pipelines additionally collapse
pages by their DECLARED canonical (the ``<link rel="canonical">`` tag and
the ``Link: <...>; rel="canonical"`` response header) and follow
client-side ``<meta http-equiv="refresh">`` redirects — both are how CMSes
express "this URL is an alias". Ignoring them inflates the index with
URL-level duplicates that no content-hash dedup catches cheaply (the bodies
often differ by session tokens or timestamps).

All extraction here is scan-only pure Catalyst (latin-1 prescan + regexp —
see detect_charset for why latin-1: total over byte sequences, tag bytes
are ASCII). The clustering step is one groupBy on the canonical
target — at 100 TB it shuffles one small row per page, same key the
index/dedup layers already use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# WHATWG-ish prescan window for <head> probes, shared with robots_meta_flags.
HEAD_SCAN_BYTES = 4096


def _absolutize(target, page_url):
    """Resolve an extracted href against the page URL — Catalyst-only form
    covering the two shapes CMSes actually emit for canonicals: absolute
    http(s) URLs (kept verbatim) and root-relative paths (joined to the
    page's scheme://host). Anything else (protocol-relative, dot-relative,
    javascript:) is NULL — a conservative gate, not a full RFC 3986
    resolver; the crawl's link extractor owns general resolution."""
    origin = F.regexp_extract(page_url, r"^(https?://[^/]+)", 1)
    return (
        F.when(target.rlike(r"^https?://"), target)
        .when(target.startswith("/") & ~target.startswith("//"), F.concat(origin, target))
        .otherwise(F.lit(None).cast("string"))
    )


def canonical_links(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """Adds ``canonical_source`` ('header' | 'link' | NULL) and
    ``canonical_url`` (absolutized, NULL when the page declares none or the
    declaration is unresolvable).

    Channels, transport-first precedence (mirrors detect_charset's
    header-over-meta ordering; Google documents both channels as equivalent
    hints, so a fixed precedence is required for determinism):

    * ``Link: <url>; rel="canonical"`` response header (``headers`` map
      column, lowercased keys as the fetch schema stores them);
    * ``<link rel="canonical" href="...">`` probed in the first 4096
      latin-1-decoded bytes.

    A self-canonical (target == page url) is kept — it is an explicit
    declaration, and the cluster step treats it identically to "none".
    """
    # UN-lowered head with (?i) matching: URL paths are case-sensitive, so
    # lowering the head before extraction would emit targets that 404 on
    # case-sensitive servers and break self-canonical detection
    head = F.decode(F.substring(F.col(body_col), 1, HEAD_SCAN_BYTES), "ISO-8859-1")
    # attribute order varies in the wild: match rel=canonical ... href= OR
    # href= ... rel=canonical within one <link> tag
    link_tag = F.coalesce(
        F.when(
            (t := F.regexp_extract(
                head,
                r'(?is)<link[^>]*rel\s*=\s*["\']?canonical["\']?[^>]*href\s*=\s*["\']([^"\'>\s]+)',
                1,
            )) != "",
            t,
        ),
        F.when(
            (t2 := F.regexp_extract(
                head,
                r'(?is)<link[^>]*href\s*=\s*["\']([^"\'>\s]+)["\'][^>]*rel\s*=\s*["\']?canonical',
                1,
            )) != "",
            t2,
        ),
    )
    hdr_raw = F.element_at(F.col("headers"), "link")
    hdr_tgt = F.regexp_extract(
        F.coalesce(hdr_raw, F.lit("")), r'(?i)<([^>]+)>\s*;\s*rel\s*=\s*"?canonical', 1
    )
    hdr_tgt = F.when(hdr_tgt == "", F.lit(None)).otherwise(hdr_tgt)

    target = F.coalesce(hdr_tgt, link_tag)
    source = (
        F.when(hdr_tgt.isNotNull(), F.lit("header"))
        .when(link_tag.isNotNull(), F.lit("link"))
        .otherwise(F.lit(None).cast("string"))
    )
    return pages.withColumn("canonical_source", source).withColumn(
        "canonical_url", _absolutize(target, F.col("url"))
    )


def canonical_clusters(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """Collapse pages by declared canonical: every page maps to
    ``coalesce(canonical_url, url)`` (a page with no declaration — or a
    self-canonical — is its own target) and clusters are the groups.

    Returns one row per cluster:
    (canonical_url, n_members, n_declared, rep_url) where ``n_declared``
    counts members that EXPLICITLY declared the target (self-canonicals
    count: an explicit self-declaration is still a declaration) and
    ``rep_url`` is the canonical target itself when it is a member, else
    the lexicographic min member (the target may not have been fetched).

    One groupBy on the target key — the same shuffle key the dedup/index
    layers use downstream, so at scale this folds into their exchange.
    """
    with_canon = canonical_links(pages, body_col=body_col)
    member_key = F.coalesce(F.col("canonical_url"), F.col("url"))
    return (
        with_canon.select(
            member_key.alias("canonical_url"),
            F.col("url"),
            F.col("canonical_source").isNotNull().cast("int").alias("declared"),
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("declared").alias("n_declared"),
            F.coalesce(
                F.min(F.when(F.col("url") == F.col("canonical_url"), F.col("url"))),
                F.min("url"),
            ).alias("rep_url"),
        )
    )


def meta_refresh_redirects(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """Client-side redirects: ``<meta http-equiv="refresh"
    content="N; url=TARGET">`` probed in the head-scan window.

    Returns only the redirecting rows, as (url, refresh_delay_s,
    refresh_target) — a refresh with no url= part reloads itself and is
    dropped (self-refresh is a liveness hint, not an alias). The output is
    edge-shaped on purpose: union it with the 3xx redirect map and feed
    ``recrawl.resolve_redirects`` so mixed server/client chains collapse in
    the same pointer-jumping rounds.
    """
    # un-lowered head, (?i) matching: the refresh TARGET's casing matters
    head = F.decode(F.substring(F.col(body_col), 1, HEAD_SCAN_BYTES), "ISO-8859-1")
    content = F.regexp_extract(
        head,
        r'(?is)<meta[^>]*http-equiv\s*=\s*["\']?refresh["\']?[^>]*content\s*=\s*["\']([^"\'>]*)',
        1,
    )
    delay = F.regexp_extract(content, r"^\s*(\d+)", 1)
    target = F.regexp_extract(content, r"(?i)(?:;|,)\s*url\s*=\s*[\"']?([^\"'>\s]+)", 1)
    return (
        pages.withColumn("refresh_delay_s", F.when(delay != "", delay.cast("int")))
        .withColumn("refresh_target", _absolutize(F.when(target != "", target), F.col("url")))
        .filter(F.col("refresh_delay_s").isNotNull() & F.col("refresh_target").isNotNull())
        .select("url", "refresh_delay_s", "refresh_target")
    )


def hreflang_alternates(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """Language-variant edges from ``<link rel="alternate" hreflang="xx"
    href="...">`` — how multilingual sites declare that /en/about and
    /de/ueber-uns are ONE document in two languages. A multilingual corpus
    builder needs these clusters for two jobs: language-balanced sampling
    that doesn't count one document once per language, and
    translation-pair mining (the declared alignment is the supervision
    signal).

    Emits one row per declared alternate: (url, hreflang, alt_url) —
    lowercased BCP-47-ish tag (``x-default`` passes through), target
    absolutized with the same conservative resolver as canonicals.
    Extraction is two passes, both Catalyst-only: collect whole
    ``<link ...rel=alternate...>`` tags that carry BOTH attributes
    (either attribute order), then per-tag regexp for the two values —
    the per-element transform stays inside the scan, nothing shuffles.
    Cluster formation downstream is the canonical_clusters pattern:
    group on the sorted alternate set or union-find over edges
    (graph.connected_components composes directly).
    """
    # un-lowered head, (?i) matching: alt_url casing must survive; only the
    # BCP-47 tag is normalized to lowercase below (tags are case-insensitive)
    head = F.decode(F.substring(F.col(body_col), 1, HEAD_SCAN_BYTES), "ISO-8859-1")
    tags = F.regexp_extract_all(
        head, F.lit(r'(?is)(<link[^>]*rel\s*=\s*["\']?alternate[^>]*>)'), F.lit(1)
    )
    pairs = F.filter(
        F.transform(
            tags,
            lambda t: F.struct(
                F.lower(
                    F.regexp_extract(t, r'(?i)hreflang\s*=\s*["\']?([A-Za-z0-9\-]+)', 1)
                ).alias("hreflang"),
                F.regexp_extract(t, r'(?i)href\s*=\s*["\']([^"\'>\s]+)', 1).alias("target"),
            ),
        ),
        lambda s: (s["hreflang"] != "") & (s["target"] != ""),
    )
    exploded = pages.select(
        F.col("url"), F.explode(pairs).alias("alt")
    )
    return exploded.select(
        "url",
        F.col("alt.hreflang").alias("hreflang"),
        _absolutize(F.col("alt.target"), F.col("url")).alias("alt_url"),
    ).filter(F.col("alt_url").isNotNull())


def alias_final_keys(
    frontier: DataFrame, redirects: DataFrame, canonical_map: DataFrame,
    max_rounds: int = 5,
) -> DataFrame:
    """The full URL-aliasing composition a dedup/index layer keys on:
    frontier url -> transitive redirect resolution (server 3xx + client
    meta-refresh edges, pointer-jumped) -> declared-canonical mapping of
    the LANDED url (a canonical is declared by the page that finally
    renders, so it applies after redirects — the order is load-bearing).

    Inputs: ``redirects`` (src, dst) raw hop map; ``canonical_map``
    (url, canonical_url) — canonical_links output rows that declared one.
    Output per frontier row: (url, final_key, via_redirect 0/1,
    via_canonical 0/1). Grouping by final_key is alias-aware dedup; the
    n_aliases-per-key rollup is one groupBy downstream.

    Scale shape: two left equi-joins against alias tables that are tiny
    relative to the corpus (only REDIRECTING and DECLARING rows appear),
    after a fixed number of self-joins inside resolve_redirects — every
    join keyed on the url, the partitioning the frontier already has.
    """
    from .recrawl import resolve_redirects

    resolved = resolve_redirects(redirects, max_rounds=max_rounds).select(
        F.col("src").alias("url"), F.col("final_url")
    )
    f1 = frontier.join(resolved, "url", "left").select(
        "url",
        F.coalesce(F.col("final_url"), F.col("url")).alias("_landed"),
        F.col("final_url").isNotNull().cast("int").alias("via_redirect"),
    )
    cm = canonical_map.select(
        F.col("url").alias("_landed"), F.col("canonical_url").alias("_canon")
    )
    return f1.join(cm, "_landed", "left").select(
        "url",
        F.coalesce(F.col("_canon"), F.col("_landed")).alias("final_key"),
        "via_redirect",
        F.col("_canon").isNotNull().cast("int").alias("via_canonical"),
    )


# Magic-byte signatures, matched IN ORDER against the hex of the payload's
# first bytes (longest/most-specific first where prefixes overlap). Servers
# lie about Content-Type constantly (Common Crawl carries megabytes of PDFs
# served as text/html); sniffing the payload is the only honest gate.
MAGIC_SIGNATURES = (
    ("89504E470D0A1A0A", "image/png"),
    ("474946383761", "image/gif"),  # GIF87a
    ("474946383961", "image/gif"),  # GIF89a
    ("255044462D", "application/pdf"),  # %PDF-
    ("FFD8FF", "image/jpeg"),
    ("504B0304", "application/zip"),
    ("1F8B", "application/gzip"),
)


def sniff_content_type(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """Payload-sniffed MIME vs the server's claim: adds ``sniffed_type``
    (magic-byte dispatch, then an HTML tag probe, else
    application/octet-stream) and ``type_mismatch`` (0/1: sniffed type
    family differs from the claimed ``content_type``'s type/subtype).

    Scan-only pure Catalyst: the binary prefix is hexed ONCE (hex() of a
    substring of the binary column — no decode of the full payload) and
    dispatched through a when-chain; the HTML probe decodes only the first
    256 bytes. No shuffle, no Python — at 100 TB this rides the same scan
    as the MIME gate and the mismatch flag routes lied-about payloads to
    the right parser (or the bin) instead of the HTML extractor.
    """
    prefix_hex = F.hex(F.substring(F.col(body_col), 1, 8))
    sniffed = None
    for sig, mime in MAGIC_SIGNATURES:
        cond = prefix_hex.startswith(sig)
        sniffed = F.when(cond, F.lit(mime)) if sniffed is None else sniffed.when(cond, F.lit(mime))
    # ISO-8859-1, not UTF-8: the probe only matches ASCII tag bytes, and
    # latin-1 is TOTAL over byte sequences — Spark 4's strict decode throws
    # MALFORMED_CHARACTER_CODING on invalid UTF-8 (any non-UTF8 payload, or
    # even a multi-byte char cut at the window edge)
    head = F.lower(F.ltrim(F.decode(F.substring(F.col(body_col), 1, 256), "ISO-8859-1")))
    is_html = head.startswith("<!doctype html") | head.startswith("<html")
    sniffed = sniffed.when(is_html, F.lit("text/html")).otherwise(
        F.lit("application/octet-stream")
    )
    claimed = F.trim(F.split(F.lower(F.col("content_type")), ";").getItem(0))
    # null-safe: a missing Content-Type header (claimed NULL) cannot agree
    # with anything — flag 1, never NULL (the column contract is 0/1)
    return pages.withColumn("sniffed_type", sniffed).withColumn(
        "type_mismatch", (~F.col("sniffed_type").eqNullSafe(claimed)).cast("int")
    )


def detect_charset(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """Effective decode charset per page — the mojibake gate a webtext
    pipeline runs before extraction (decoding windows-1252 bytes as utf-8
    silently corrupts every non-ASCII character in the corpus). Three
    declared sources, WHATWG-encoding precedence (BOM outranks the
    transport header, which outranks the in-document meta; absent all
    three the web default is utf-8):

    * ``bom_charset``    — byte-order mark sniffed from the payload's hex
      prefix (EF BB BF / FF FE / FE FF);
    * ``header_charset`` — the Content-Type header's charset parameter;
    * ``meta_charset``   — <meta charset=...> / http-equiv content=...
      charset probed in the first 1024 decoded bytes (the WHATWG prescan
      window).

    Adds those three plus ``charset`` (the precedence winner, lowercased).
    Scan-only pure Catalyst (hex prefix + two regexps), rides the same
    scan as the MIME gate; no shuffle, no Python."""
    prefix_hex = F.hex(F.substring(F.col(body_col), 1, 3))
    bom = (
        F.when(prefix_hex.startswith("EFBBBF"), F.lit("utf-8"))
        .when(prefix_hex.startswith("FFFE"), F.lit("utf-16le"))
        .when(prefix_hex.startswith("FEFF"), F.lit("utf-16be"))
        .otherwise(F.lit(None).cast("string"))
    )
    hdr = F.lower(
        F.regexp_extract(F.col("content_type"), r"(?i)charset=\"?'?([A-Za-z0-9_\-]+)", 1)
    )
    hdr = F.when(hdr == "", F.lit(None)).otherwise(hdr)
    # latin-1 for the prescan: total over bytes (strict UTF-8 decode throws
    # on exactly the non-UTF8 payloads this operator exists to catch), and
    # the <meta charset> tag bytes are ASCII either way
    head = F.decode(F.substring(F.col(body_col), 1, 1024), "ISO-8859-1")
    meta = F.lower(
        F.regexp_extract(
            head, r"(?i)<meta[^>]*charset=[\"']?([A-Za-z0-9_\-]+)", 1
        )
    )
    meta = F.when(meta == "", F.lit(None)).otherwise(meta)
    return (
        pages.withColumn("bom_charset", bom)
        .withColumn("header_charset", hdr)
        .withColumn("meta_charset", meta)
        .withColumn(
            "charset",
            F.coalesce(
                F.col("bom_charset"),
                F.col("header_charset"),
                F.col("meta_charset"),
                F.lit("utf-8"),
            ),
        )
    )


def page_metadata(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """Structured page metadata — the five fields every index/quality
    layer wants without parsing a DOM: ``title`` (first <title> in the
    head window), ``meta_description``, ``og_title`` (social-graph title,
    often cleaner than <title>), ``html_lang`` (the declared lang
    attribute — the PRIOR the statistical lang-id gate should be checked
    against; disagreement is itself a spam signal), all lowercase-matched
    but emitted with original casing preserved from the latin-1 prescan.
    Empty extraction -> NULL, never ''. Scan-only pure Catalyst, rides
    the same decode as detect_charset/robots_meta_flags."""
    head = F.decode(F.substring(F.col(body_col), 1, HEAD_SCAN_BYTES), "ISO-8859-1")

    def _first(pattern: str):
        v = F.regexp_extract(head, pattern, 1)
        return F.when(v != "", v)

    return (
        pages.withColumn("title", _first(r"(?is)<title[^>]*>\s*(.*?)\s*</title>"))
        .withColumn(
            "meta_description",
            _first(
                r'(?is)<meta[^>]*name\s*=\s*["\']?description["\']?[^>]*content\s*=\s*["\']([^"\']*)'
            ),
        )
        .withColumn(
            "og_title",
            _first(
                r'(?is)<meta[^>]*property\s*=\s*["\']og:title["\'][^>]*content\s*=\s*["\']([^"\']*)'
            ),
        )
        .withColumn("html_lang", _first(r'(?is)<html[^>]*\slang\s*=\s*["\']?([A-Za-z\-]+)'))
    )


def nofollow_stats(pages: DataFrame, body_col: str = "html") -> DataFrame:
    """Per-page outlink rel=nofollow profile: (n_links, n_nofollow,
    follow_ratio_ppm). A page's nofollow'd links must not pass rank
    (graph edges from them are endorsement-free) and a page whose links
    are MOSTLY nofollow is usually a UGC/comment farm — the page-level
    twin of the robots-meta nofollow gate (which kills ALL outlinks).
    Word-bounded match inside the rel attribute value ('nofollow
    noopener' counts, 'nofollowish' does not). Whole-body scan (links are
    not confined to the head), pure Catalyst: one regexp_extract_all +
    two sizes."""
    body = F.lower(F.decode(F.col(body_col), "ISO-8859-1"))
    atags = F.regexp_extract_all(body, F.lit(r"(<a\s[^>]*>)"), F.lit(1))
    nofollow = F.filter(
        atags,
        lambda t: t.rlike(r'rel\s*=\s*["\']?[^"\'>]*\bnofollow\b'),
    )
    return (
        pages.withColumn("n_links", F.size(atags).cast("int"))
        .withColumn("n_nofollow", F.size(nofollow).cast("int"))
        .withColumn(
            "follow_ratio_ppm",
            F.expr(
                "((CAST(n_links AS BIGINT) - n_nofollow) * 1000000)"
                " div greatest(n_links, 1)"
            ),
        )
    )


def parse_header_block(
    responses: DataFrame,
    block_col: str = "header_block",
    capture_col: str | None = None,
) -> DataFrame:
    """Raw HTTP header-block parsing — WARC response records and most
    fetch logs carry headers as one CRLF text block, not a map; every
    header-driven operator upstream (charset, robots-meta, canonical Link,
    revalidation) wants them split. Emits one row per header line:
    (url, header_pos, header_name, header_value, is_fold, parent_pos), in
    document order via posexplode so "first header wins" policies are
    expressible downstream. Names lowercased (RFC 9110 field names are
    case-insensitive), values keep original casing with OWS stripped —
    BOTH SP and HTAB (Spark's trim is space-only, hence the regexp trim).

    Folded continuation lines (obs-fold, leading SP/HTAB — deprecated but
    present in old WARCs) are emitted as their own row carrying the
    PRECEDING header's name and that header's position as ``parent_pos``
    (their own ``header_pos`` keeps document order), so a consumer
    reassembles by groupBy(url, parent_pos). Non-fold rows carry their own
    position as parent_pos. Unparseable lines (no colon, not a fold) are
    dropped; the status line (HTTP/...) is skipped.

    Duplicate urls (multiple captures of one page — the normal recrawl
    shape) need a distinguishing ``capture_col``; without one the window
    partitions on the block text itself, which keeps fold attribution
    correct per capture (identical blocks parse identically) at the cost
    of carrying the block through the exchange — pass a capture key for
    the cheap form. Scan-only otherwise: split + posexplode, no Python.
    """
    part_cols = ["url", capture_col] if capture_col else ["url", block_col]
    lines = F.split(F.col(block_col), "\r?\n")
    exploded = responses.select(
        "url",
        *([capture_col] if capture_col else [block_col]),
        F.posexplode(lines).alias("header_pos", "_line"),
    ).filter(
        (F.col("_line") != "") & ~F.col("_line").rlike(r"^HTTP/")
    )
    ows_trim = lambda c: F.regexp_replace(c, r"^[ \t]+|[ \t]+$", "")  # noqa: E731
    is_fold = F.col("_line").rlike(r"^[ \t]")
    name = F.lower(ows_trim(F.substring_index(F.col("_line"), ":", 1)))
    value = ows_trim(
        F.substr(
            F.col("_line"), F.locate(":", F.col("_line")) + F.lit(1)
        )
    )
    out = exploded.withColumn("is_fold", is_fold.cast("int")).filter(
        F.col("_line").contains(":") | (F.col("is_fold") == 1)
    )
    # a fold row inherits the nearest preceding non-fold name and position
    # via a last-value window over document order (per capture)
    w = Window.partitionBy(*part_cols).orderBy("header_pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    parent_name = F.last(
        F.when(F.col("is_fold") == 0, name), ignorenulls=True
    ).over(w)
    parent_pos = F.last(
        F.when(F.col("is_fold") == 0, F.col("header_pos")), ignorenulls=True
    ).over(w)
    return out.select(
        "url",
        F.col("header_pos").cast("int").alias("header_pos"),
        parent_name.alias("header_name"),
        F.when(F.col("is_fold") == 1, ows_trim(F.col("_line")))
        .otherwise(value)
        .alias("header_value"),
        "is_fold",
        parent_pos.cast("int").alias("parent_pos"),
    ).filter(F.col("header_name").isNotNull())
