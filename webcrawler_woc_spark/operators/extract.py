"""Per-page extraction pipeline over fetched rows.

Maps the reference's crawl_page body (src/crawler.rs:199-251):
MIME gate -> word scan -> link extraction -> explode, all as DataFrame ops
with the Python kernels confined to Arrow-batched pandas UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.udfs import (
    extract_links_udf,
    extract_text_udf,
    link_type_col,
)

# Exact MIME-equality gate (reference crawler.rs:225-227 via
# check_mime_from_list, links.rs:171-176): ONLY these two strings pass;
# 'text/html; charset=iso-8859-1' must NOT. The mime crate lowercases
# type/subtype during parse (links.rs:159-176), so the comparison is applied
# to lower(content_type) — 'Text/HTML' passes, exactly like the reference.
HTML_MIMES = ("text/html", "text/html; charset=utf-8")


def mime_ok(content_type_col):
    """lower(content_type) ∈ HTML_MIMES — the one shared MIME predicate."""
    return F.lower(content_type_col).isin(*HTML_MIMES)


def html_body_gate(url_col, content_type_expr, timeout_ms: int | None):
    """Predicate: this matched page's body is read and parsed as HTML.

    MIME gate (exact equality, links.rs:171-176) AND the request-timeout
    simulation (cli.rs:34-35 / crawler.rs:14-20: a timed-out response's body
    is never read). THE single definition shared by fetch_join's metadata
    path and the wave extraction path — keeping it in one place is what
    guarantees links_out metadata and the extracted corpus can't diverge.
    """
    from .fetch import synth_fetch_ms

    gate = mime_ok(content_type_expr(url_col))
    if timeout_ms is not None:
        gate = gate & (synth_fetch_ms(url_col) < F.lit(timeout_ms))
    return gate


def extract_child_links(gated: DataFrame) -> DataFrame:
    """Explode per-page canonical out-links.

    Per-page dedup happens inside the UDF (reference's per-page HashSet,
    links.rs:273) — this shrinks the exploded exchange before the global
    wave-level dedup, exactly the reference's two-tier dedup.

    Returns (parent_url, url, link_type) rows.
    """
    return (
        gated.select(
            F.col("url").alias("parent_url"),
            F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("url"),
        )
        .withColumn("link_type", link_type_col(F.col("url")))
    )


def extracted_text(gated: DataFrame) -> DataFrame:
    """(url, text) with the pinned byte-exact recipe (north-rule invariant)."""
    return gated.select(F.col("url"), extract_text_udf(F.col("html")).alias("text"))


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
    from .canonical import HEAD_SCAN_BYTES

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
