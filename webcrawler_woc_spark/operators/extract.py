"""Per-page extraction pipeline over fetched rows.

Maps the reference's crawl_page body (src/crawler.rs:199-251):
MIME gate -> word scan -> link extraction -> explode, all as DataFrame ops
with the Python kernels confined to Arrow-batched pandas UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
    is never read), evaluated over ``fetch_matched`` rows. The wave does not
    call it: it gates ``fetch_join``'s own ``fetched`` and ``content_type``
    columns. This is the same predicate for callers that hold only the
    matched rows (the one-wave replay, tests).
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
