"""Arrow-batched pandas UDFs wrapping the pinned kernels.

All Python-side work crosses the JVM boundary only at Arrow batch granularity
(`spark.sql.execution.arrow.pyspark.enabled`), per the north rule's
"no per-row Python" constraint. Hashing stays JVM-side (`F.xxhash64`); these
UDFs cover only the text-shaped kernels Spark has no builtin for.

UDF factories taking config (word lists) return a fresh UDF closing over the
broadcast value so the task closure ships one copy per executor.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, StringType
from pyspark.sql.functions import pandas_udf

from .html import (
    extract_links,
    extract_text,
    links_from_text,
    sitemap_urls_from_robots,
)


def _decode(html) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        return bytes(html).decode("utf-8", errors="replace")
    return str(html)


@pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series, base: pd.Series) -> pd.Series:
    """Per-page link extraction + canonicalization + per-page dedup
    (reference get_links_from_html, links.rs:268-274)."""
    return pd.Series(
        [extract_links(_decode(h), b) for h, b in zip(html, base)], dtype="object"
    )


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Pinned byte-exact text extraction (north-rule invariant)."""
    return html.map(lambda h: extract_text(_decode(h)))


@pandas_udf(ArrayType(StringType()))
def links_from_text_udf(text: pd.Series, base: pd.Series) -> pd.Series:
    """Sitemap text parse (reference get_links_from_text, links.rs:277-282)."""
    return pd.Series(
        [links_from_text(_decode(t), b) for t, b in zip(text, base)], dtype="object"
    )


@pandas_udf(ArrayType(StringType()))
def sitemap_urls_udf(robots: pd.Series, base: pd.Series) -> pd.Series:
    """Sitemap URLs from robots.txt bodies (reference crawler.rs:254-279)."""
    return pd.Series(
        [sitemap_urls_from_robots(_decode(r), b) for r, b in zip(robots, base)],
        dtype="object",
    )


def make_contains_words_udf(words: list[str]):
    """Factory: case-sensitive raw-html word scan (links.rs:285-290).

    ``words`` is captured in the closure (small list — the reference loads it
    into an Arc'd HashSet; we ship it with the task closure / broadcast).

    Kernel: ONE vectorized ``Series.str.contains`` over an escaped regex
    union — C-side per batch, vs the previous per-element Python
    ``any(w in h)`` loop. Semantics identical: case-sensitive substring
    containment of any word over the raw (utf-8-decoded) html.
    """
    import re

    frozen = list(words)
    pattern = "|".join(re.escape(w) for w in frozen)

    @pandas_udf(BooleanType())
    def contains_words_udf(html: pd.Series) -> pd.Series:
        if not frozen:
            return pd.Series([False] * len(html))
        decoded = html.map(_decode)
        return decoded.str.contains(pattern, regex=True).fillna(False)

    return contains_words_udf


def link_type_col(url_col):
    """Link typing as a pure Catalyst expression (no Python):
    scheme mailto -> Mail, tel -> PhoneNo, else Other (links.rs:179-185)."""
    return (
        F.when(url_col.startswith("mailto:"), F.lit("Mail"))
        .when(url_col.startswith("tel:"), F.lit("PhoneNo"))
        .otherwise(F.lit("Other"))
    )
