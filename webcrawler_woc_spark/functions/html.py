"""HTML kernels: link extraction, text extraction, word scan, sitemap parse.

Single pinned implementation consumed by both the Spark engine (Arrow-batched
pandas UDFs, functions/udfs.py) and the pure-Python oracle (oracle/pyoracle.py)
— this is what makes the north-rule "byte-identical extracted text per url"
invariant hold by construction.

Reference semantics replicated (semantics only — the reference uses the Rust
``select`` crate). The href and text recipes are defined by stdlib
HTMLParser walks (``_LinkCollector``, ``_TextCollector``). What runs is one
regex scan per page (``_HREF_TOKEN_RE``, ``_TEXT_TOKEN_RE``) implementing
the same recipes; on a page with markup the scan does not model (comments,
``<!``/``<?`` markup, a stray ``<``, unusual tag syntax) it returns None and
the walk itself computes the result. tests/test_html.py and
tests/test_html_props.py cross-check the scans against the walks:

* links = href attributes of ``<a>`` elements, normalized, per-page
  deduplicated (reference get_links_from_html, src/extractors/links.rs:268-274);
* sitemap text files = one URL per line, trimmed, normalized (reference
  get_links_from_text, links.rs:277-282);
* word scan = case-sensitive substring search over the RAW html string
  (reference check_words_html, links.rs:285-290) — attributes/tags match too;
* text extraction has NO reference analogue (the reference never extracts
  text); ``_TextCollector`` is the pinned engine recipe the corpus `text`
  column is generated with (FIXTURES.md §1).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

_WS = r"[ \t\n\r\f]"  # HTML whitespace (HTMLParser's \s is wider)
_NAME = r"[a-zA-Z][a-zA-Z0-9:_.-]*"
# an attribute value: double-quoted, single-quoted, or unquoted without
# quotes, '=', '<', '>' or '`'
_VALUE = r"""(?:"[^"]*"|'[^']*'|[^\s"'=<>`]+)"""
# one attribute with its leading whitespace: a bare name or name=value
_ATTR = rf"""{_WS}+[^\s/>"'=<]+(?:{_WS}*={_WS}*{_VALUE})?"""
_ATTRS = rf"(?:{_ATTR})*"
# A script/style element: HTMLParser reads its body as raw text up to the
# first matching close tag, or to the end when there is none. The names
# match ASCII-case-insensitively only: HTMLParser's close search is
# Unicode-case-insensitive ("</ſcript>"), but it keeps reading raw text past
# a close whose name is not ASCII.
_RAW_TEXT = "|".join(
    rf"<(?ai:{t}){_ATTRS}{_WS}*>(?s:.*?)(?:</\s*(?ai:{t})\s*>|\Z)" for t in ("script", "style")
)

# The single-scan kernels tokenize a page with one of these: the markup
# subset whose HTMLParser (3.11) handling they reproduce, plus a catch-all
# group for every other "<" (comments, <! and <? markup, stray or unclosed
# tags, other attribute syntax), on which they give up. Every position
# starts a token, so ``findall`` never skips a character. Groups of
# _TEXT_TOKEN_RE: 1 text up to the next "<", 2 end tag name (end tags carry
# no attributes), 3 start tag name, 4 the "/" of a self-closing start tag,
# 5 any other "<".
_TEXT_TOKEN_RE = re.compile(
    rf"([^<]+)|{_RAW_TEXT}|</({_NAME}){_WS}*>|<({_NAME}){_ATTRS}{_WS}*(/?)>|(<)"
)
# Groups of _HREF_TOKEN_RE: 1 the value of an <a> tag's first href attribute
# that has a value, 2 any other "<".
_HREF_EQ = rf"{_WS}+(?ai:href){_WS}*="  # a valued href attribute, up to its "="
_HREF_TOKEN_RE = re.compile(
    rf"[^<]+|{_RAW_TEXT}|</{_NAME}{_WS}*>"
    rf"|<[aA](?:(?!{_HREF_EQ}){_ATTR})*(?:{_HREF_EQ}{_WS}*({_VALUE}){_ATTRS})?{_WS}*/?>"
    rf"|<{_NAME}{_ATTRS}{_WS}*/?>|(<)"
)

_BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "tr", "br", "title", "article", "section", "header", "footer",
    "blockquote", "pre",
}
_SKIP_TAGS = {"script", "style", "noscript", "template"}


class _LinkCollector(HTMLParser):
    """Collect href attributes of <a> tags in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value is not None:
                    self.hrefs.append(value)
                    break  # first href attr only, like attr("href")


class _TextCollector(HTMLParser):
    """Pinned text-extraction recipe.

    Text content of all nodes except script/style/noscript/template; a single
    newline at every block-element boundary; runs of newlines collapsed; final
    string stripped. Entities are decoded (convert_charrefs).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag in _BLOCK_TAGS:
            self._chunks.append("\n")

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag in _BLOCK_TAGS:
            self._chunks.append("\n")

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0 and data:
            self._chunks.append(data)


def _hrefs_fast(html: str) -> list[str] | None:
    """``_LinkCollector``'s hrefs from one ``_HREF_TOKEN_RE`` scan, or None
    when the page has markup outside the scan's subset."""
    out: list[str] = []
    for href, other in _HREF_TOKEN_RE.findall(html):
        if href:
            out.append(unescape(href[1:-1] if href[0] in "\"'" else href))
        elif other:
            return None
    return out


def extract_hrefs(html: str) -> list[str]:
    """All <a href> values in document order (pre-normalization).

    THE pinned kernel (engine + oracle both use it): ``_LinkCollector``'s
    recipe, computed by the one-scan ``_hrefs_fast`` or, where that returns
    None, by the HTMLParser walk itself (tests/test_html.py and
    tests/test_html_props.py cross-check the scan against the walk).
    """
    hrefs = _hrefs_fast(html)
    return extract_hrefs_strict(html) if hrefs is None else hrefs


def extract_hrefs_strict(html: str) -> list[str]:
    """HTMLParser-based reference implementation (cross-validation only)."""
    parser = _LinkCollector()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass  # salvage whatever was collected before the parse error
    return parser.hrefs


def extract_links(html: str, base_url: str) -> list[str]:
    """Canonical URLs of all <a href> links, per-page deduplicated.

    Dedup preserves first-seen order (the reference collects into a HashSet —
    links.rs:273 — so only set membership matters; order here is pinned for
    determinism).
    """
    from .urlnorm import normalize_url

    seen: set[str] = set()
    out: list[str] = []
    for href in extract_hrefs(html):
        canon = normalize_url(href, base_url)
        if canon is not None and canon not in seen:
            seen.add(canon)
            out.append(canon)
    return out


def _text_chunks_fast(html: str) -> list[str] | None:
    """``_TextCollector``'s chunks from one ``_TEXT_TOKEN_RE`` scan, or None
    when the page has markup outside the scan's subset.

    Mirrors the walk event by event: each text token is one data segment,
    entity-decoded on its own; a self-closing tag is a start tag followed
    by its end tag; a script/style element's start and end tags cancel and
    its body is never data.
    """
    chunks: list[str] = []
    append = chunks.append
    skip = 0
    for text, end, start, self_closing, other in _TEXT_TOKEN_RE.findall(html):
        if text:
            if skip == 0:
                append(unescape(text))
        elif end:
            tag = end.lower()
            if tag in _SKIP_TAGS:
                if skip:
                    skip -= 1
            elif tag in _BLOCK_TAGS:
                append("\n")
        elif start:
            tag = start.lower()
            if tag in _SKIP_TAGS:
                if not self_closing:  # start then end leaves the depth as it was
                    skip += 1
            elif tag in _BLOCK_TAGS:
                append("\n\n" if self_closing else "\n")
        elif other:
            return None
    return chunks


def _text_chunks_strict(html: str) -> list[str]:
    parser = _TextCollector()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    return parser._chunks


def _joined_text(chunks: list[str]) -> str:
    raw = "".join(chunks)
    # collapse newline runs (with surrounding spaces/tabs) to single newlines
    lines = [ln.strip() for ln in raw.split("\n")]
    return "\n".join(ln for ln in lines if ln != "").strip()


def extract_text(html: str) -> str:
    """Pinned byte-exact text extraction (see ``_TextCollector``).

    The chunks come from the one-scan ``_text_chunks_fast``, or from the
    HTMLParser walk itself when the scan returns None; the scan implements
    the walk's recipe, so the text does not depend on which one ran.
    """
    chunks = _text_chunks_fast(html)
    return _joined_text(_text_chunks_strict(html) if chunks is None else chunks)


def links_from_text(text: str, base_url: str) -> list[str]:
    """Sitemap-style parse: one URL per line, trimmed, normalized, deduped
    (reference get_links_from_text, links.rs:277-282)."""
    from .urlnorm import normalize_url

    seen: set[str] = set()
    out: list[str] = []
    for line in text.splitlines():
        canon = normalize_url(line.strip(), base_url)
        if canon is not None and canon not in seen:
            seen.add(canon)
            out.append(canon)
    return out


def contains_words(html: str, words: list[str]) -> bool:
    """Case-sensitive any-substring over the RAW html (links.rs:285-290)."""
    return any(w in html for w in words)


def sitemap_urls_from_robots(robots_text: str, base_url: str) -> list[str]:
    """Extract sitemap URLs from a robots.txt body.

    Replicates the reference's fragile slice semantics (crawler.rs:265-270):
    keep lines containing "Sitemap"; take ``line[9..]`` (byte offset 9 —
    robust only for exactly "Sitemap: " prefixes); first whitespace token;
    trim; normalize against the seed URL.
    """
    from .urlnorm import normalize_url

    out: list[str] = []
    for line in robots_text.splitlines():
        if "Sitemap" not in line:
            continue
        sliced = line[9:]  # byte-9 slice per crawler.rs:268
        token = sliced.split(None, 1)[0] if sliced.split() else None
        if token is None:
            continue
        canon = normalize_url(token.strip(), base_url)
        if canon is not None:
            out.append(canon)
    return out
