"""Unit tests for the pinned HTML kernels (SURVEY.md §5.2-1)."""

import pytest

from webcrawler_woc_spark.functions.html import (
    contains_words,
    extract_hrefs,
    extract_links,
    extract_text,
    links_from_text,
    sitemap_urls_from_robots,
)

BASE = "http://host0.example/page/1"


class TestFastStrictParity:
    def test_fast_matches_strict_on_edge_cases(self):
        from webcrawler_woc_spark.functions.html import extract_hrefs_strict

        cases = [
            '<A HREF="x">c</A>',
            '<a name="n">no</a><a href="y">y</a>',
            '<a href="/a?x=1&amp;y=2">e</a>',
            "<a href='sq'>s</a>",
            "<a href=unq>u</a>",
            '<div><a href="a"><a href="b"></a></a></div>',
            "<a href>e</a>",
            '<a href="">e</a>',
            '<a\nhref="nl">n</a>',
            '<a class="c" href="second-attr">x</a>',
            # where a regex over "<a ...>" alone would differ from the walk
            '<a-b href="x">n</a-b><a href="y">y</a>',
            '<a data-href="x" href="y">y</a>',
            '<a href href="y">y</a>',
            '<a href="x" HREF="y">x</a>',
            '<div title="<a href=z>"><a href="y">y</a></div>',
            '<script><a href="s"></script><a href="y">y</a>',
            '<!-- <a href="c"> --><a href="y">y</a>',
            '<a title="x>y" href="y">y</a>',
            '<script><a href="s">',
        ]
        for html in cases:
            assert extract_hrefs(html) == extract_hrefs_strict(html), html


class TestExtractHrefs:
    def test_basic(self):
        html = '<a href="x">one</a><a href="y">two</a>'
        assert extract_hrefs(html) == ["x", "y"]

    def test_missing_href_skipped(self):
        html = '<a name="anchor">no href</a><a href="x">ok</a>'
        assert extract_hrefs(html) == ["x"]

    def test_nested_a(self):
        html = '<div><a href="a"><span><a href="b">inner</a></span></a></div>'
        assert extract_hrefs(html) == ["a", "b"]

    def test_case_insensitive_tag(self):
        assert extract_hrefs('<A HREF="x">caps</A>') == ["x"]

    def test_entity_in_href_decoded(self):
        assert extract_hrefs('<a href="/a?x=1&amp;y=2">e</a>') == ["/a?x=1&y=2"]


class TestExtractLinks:
    def test_dedup_per_page(self):
        html = '<a href="x">1</a><a href="x">2</a><a href="./x">3</a>'
        assert extract_links(html, BASE) == ["http://host0.example/page/x"]

    def test_fragment_dropped(self):
        html = '<a href="#sec">s</a><a href="y">y</a>'
        assert extract_links(html, BASE) == ["http://host0.example/page/y"]

    def test_mix(self):
        html = (
            '<a href="http://a.example/p">abs</a>'
            '<a href="../q">rel</a>'
            '<a href="mailto:u@h.ex">m</a>'
            '<a href="tel:+15550001111">t</a>'
        )
        assert extract_links(html, BASE) == [
            "http://a.example/p",
            "http://host0.example/q",
            "mailto:u@h.ex",
            "tel:+15550001111",
        ]


class TestExtractText:
    def test_blocks_newline_separated(self):
        html = "<html><head><title>T</title></head><body><p>a</p><p>b</p></body></html>"
        assert extract_text(html) == "T\na\nb"

    def test_script_style_skipped(self):
        html = "<body><script>var x=1;</script><p>keep</p><style>.c{}</style></body>"
        assert extract_text(html) == "keep"

    def test_entities_decoded(self):
        assert extract_text("<p>a &amp; b &lt;c&gt;</p>") == "a & b <c>"

    def test_multibyte(self):
        assert extract_text("<p>héllo wörld — 你好</p>") == "héllo wörld — 你好"

    def test_inline_not_split(self):
        assert extract_text("<p>a <b>bold</b> c</p>") == "a bold c"

    def test_deterministic(self):
        html = "<title>X</title><p>one</p><div>two</div>"
        assert extract_text(html) == extract_text(html) == "X\none\ntwo"


# (html, extract_text's result, whether the one-scan path handles it): the
# HTMLParser (3.11) behaviours the scan reproduces, then markup it leaves to
# the walk
TEXT_CASES = [
    # entities are decoded per data segment between tags, not over the text
    ("x&am<b>p;y", "x&amp;y", True),
    ("a &amp; b &lt;c&gt; &eacute;&#233;&#xe9;", "a & b <c> ééé", True),
    # a self-closing tag is a start then an end tag: <br/> emits two
    # newlines, and <script/> leaves the skip depth unchanged
    ("a<br/>b<br />c", "a\nb\nc", True),
    ("<script/>a<p>b", "a\nb", True),
    ("<noscript/>a", "a", True),
    # block tags inside noscript/template still emit newlines
    ("a<noscript>x<p>y</p></noscript>b", "a\nb", True),
    ("a<template><div>t</div></template>b", "a\nb", True),
    # script/style bodies are raw text up to their closing tag
    ('<script>if (a<b) x="</p>";</script>c', "c", True),
    ("<style>p>a{}</style>d<SCRIPT>x</SCRIPT >e", "de", True),
    ("a<script>x<p>y", "a", True),  # unclosed: the rest is dropped
    ("<script>a</ſcript>b</script>c", "c", True),  # closes on ASCII names only
    # uppercase tags, \r\n, multibyte text, ">" inside a quoted value
    ("<P>A</P><DIV>B</DIV><BR>C", "A\nB\nC", True),
    ("<p>a\r\nb</p>\r\n<p>c</p>", "a\nb\nc", True),
    ("<p>héllo wörld — 你好</p>", "héllo wörld — 你好", True),
    ("<a title=\"x>y\" href='p>q'>t</a>", "t", True),
    ("<p\nclass = c\tid=x >a</p >", "a", True),
    # left to the walk: <! and <? markup, unconsumed "<"
    ("<!-- <p>c</p> -->a", "a", False),
    ("<!DOCTYPE html><p>a</p>", "a", False),
    ("<?xml version='1.0'?><p>a</p>", "a", False),
    ("<p>a</p><p", "a\n<p", False),
    ("a < b", "a < b", False),
    ("<ſcript>x</p>y", "<ſcript>x\ny", False),
    ("<p>a</ p>", "a", False),
    # a quote inside an unquoted attribute value
    ('<a b=c"d>x</a>"<p>y', 'x"\ny', False),
]


class TestTextKernelCases:
    @pytest.mark.parametrize("html,text,fast", TEXT_CASES)
    def test_matches_walk(self, html, text, fast):
        from webcrawler_woc_spark.functions.html import (
            _joined_text,
            _text_chunks_fast,
            _text_chunks_strict,
        )

        assert extract_text(html) == _joined_text(_text_chunks_strict(html)) == text
        chunks = _text_chunks_fast(html)
        assert (chunks is not None) == fast
        if fast:
            assert "".join(chunks) == "".join(_text_chunks_strict(html))

    def test_self_closing_block_emits_two_newlines(self):
        from webcrawler_woc_spark.functions.html import _text_chunks_fast, _text_chunks_strict

        assert "".join(_text_chunks_strict("a<br/>b")) == "a\n\nb"
        assert "".join(_text_chunks_fast("a<br/>b")) == "a\n\nb"

    def test_corpus_pages_take_the_fast_path(self, sf_dir):
        """A scan that silently always fell back would keep every digest
        green and lose the whole speed-up: every generated corpus page must
        be handled by the scan itself."""
        import pyarrow.parquet as pq

        from webcrawler_woc_spark.functions.html import _hrefs_fast, _text_chunks_fast
        from webcrawler_woc_spark.sources.corpus import py_doc_page

        docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
        n_docs = len(docs)
        for d in docs[:: max(1, n_docs // 200)]:
            page = py_doc_page(d["doc_id"], d["text"], d["lang"], n_docs)
            html = page["html"].decode("utf-8")
            assert _text_chunks_fast(html) is not None, page["url"]
            assert _hrefs_fast(html) is not None, page["url"]
            assert extract_text(html) == page["text"]


class TestContainsWords:
    def test_empty_wordlist_false(self):
        # reference unit test get_words (links.rs:336-351)
        assert not contains_words("This is a sample page", [])

    def test_match(self):
        assert contains_words("This is a sample page", ["sample"])

    def test_case_sensitive(self):
        assert not contains_words("this has Sample only", ["sample"])
        assert contains_words("this has Sample only", ["Sample"])

    def test_matches_inside_attribute(self):
        # raw-html scan: attribute text counts (links.rs:285-290)
        assert contains_words('<a href="/secret/x">y</a>', ["secret"])


class TestSitemaps:
    def test_links_from_text(self):
        # NB: "not a url" is a VALID relative reference — the reference's
        # Link::new_relative joins it against the base (links.rs:109-118)
        # ...and an empty line joins to the base itself (url-crate join("")).
        text = "  http://a.example/1  \nhttp://a.example/2\n\nnot a url\n"
        assert links_from_text(text, BASE) == [
            "http://a.example/1",
            "http://a.example/2",
            "http://host0.example/page/1",
            "http://host0.example/page/not%20a%20url",
        ]

    def test_links_from_text_skips_fragment_lines(self):
        assert links_from_text("#frag\nhttp://a.example/1", BASE) == [
            "http://a.example/1"
        ]

    def test_robots_sitemap_slice(self):
        robots = (
            "User-agent: *\n"
            "Disallow: /private\n"
            "Sitemap: http://host0.example/sitemap0.txt\n"
            "Crawl-delay: 2\n"
        )
        assert sitemap_urls_from_robots(robots, BASE) == [
            "http://host0.example/sitemap0.txt"
        ]

    def test_robots_byte9_slice_is_exact(self):
        # 'Sitemap: ' is exactly 9 bytes; a deviant prefix shifts the slice.
        # line[9:] == "ttp://h.example/s.txt extra" -> first token "ttp://..."
        # still parses (unknown scheme => opaque URL), faithfully reproducing
        # the reference's fragile byte-9 slice (crawler.rs:268).
        robots = "Sitemap:http://h.example/s.txt extra"
        assert sitemap_urls_from_robots(robots, BASE) == ["ttp://h.example/s.txt"]
