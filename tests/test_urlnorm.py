"""Golden tests for URL canonicalization (url-crate / WHATWG parity).

Golden expectations are hand-derived from the documented behavior of the
WHATWG URL Standard (which the Rust `url` crate implements) — SURVEY.md §1.1.
"""

import pytest

from webcrawler_woc_spark.functions.urlnorm import (
    host_of,
    join_url,
    link_type_of,
    normalize_url,
    parse_absolute,
)

BASE = "http://host0.example/page/1"

# Hand-written rows from the WHATWG URL Standard (https://url.spec.whatwg.org/)
# as the Rust url crate parses them: (input, canonical form or None).
WHATWG_CASES = [
    # the special-query percent-encode set adds "'" to the query set; a
    # non-special query and every fragment keep it
    ("http://h.example/?q='x'", "http://h.example/?q=%27x%27"),
    ("https://h.example/p?a='&b=`", "https://h.example/p?a=%27&b=`"),
    ("mailto:a@h.example?subject='x'", "mailto:a@h.example?subject='x'"),
    ("http://h.example/p#'x'", "http://h.example/p#'x'"),
    ("http://h.example/'p'", "http://h.example/'p'"),
    # a single- or double-dot segment may spell its dots as %2e, any case
    ("http://h.example/a/%2e%2E/b", "http://h.example/b"),
    ("http://h.example/a/.%2e/b", "http://h.example/b"),
    ("http://h.example/a/%2E./b", "http://h.example/b"),
    ("http://h.example/a/%2e/b", "http://h.example/a/b"),
    ("http://h.example/a/b/%2e%2e", "http://h.example/a/"),
    ("http://h.example/a/%2e", "http://h.example/a/"),
    ("http://h.example/a/%2e%2e%2e", "http://h.example/a/%2e%2e%2e"),
    ("http://h.example/a/%2ex", "http://h.example/a/%2ex"),
    # the host is percent-decoded, then checked for forbidden code points
    ("http://%68.example/", "http://h.example/"),
    ("http://EX%41mple.com/p", "http://example.com/p"),
    ("http://ex ample.com/", None),
    ("http://a%2Fb.example/", None),
    ("http://a%00b.example/", None),
    ("http://a%25b.example/", None),
    ("http://a^b.example/", None),
    # a file URL's host may be empty; localhost and a drive letter are no host
    ("file:///etc/passwd", "file:///etc/passwd"),
    ("file:///", "file:///"),
    ("file://", "file:///"),
    ("file:/etc/passwd", "file:///etc/passwd"),
    ("file:etc", "file:///etc"),
    ("file://h.example/p", "file://h.example/p"),
    ("file://LOCALHOST/p", "file:///p"),
    ("file://C:/x", "file:///C:/x"),
    ("file:///a/./b/../c?q#f", "file:///a/c?q#f"),
    ("file:\\\\h.example\\p", "file://h.example/p"),
]


@pytest.mark.parametrize("raw,expected", WHATWG_CASES)
def test_whatwg_case(raw, expected):
    assert parse_absolute(raw) == expected
    if expected is not None:
        assert parse_absolute(expected) == expected


@pytest.mark.parametrize(
    "rel,expected",
    [
        ("%2e%2e/x", "http://host0.example/x"),
        ("a/.%2E/x", "http://host0.example/page/x"),
        ("%2e/x", "http://host0.example/page/x"),
        ("?q='1'", "http://host0.example/page/1?q=%271%27"),
        ("x?q='1'", "http://host0.example/page/x?q=%271%27"),
        # a protocol-relative rel is the base's scheme + the rel, parsed as
        # an absolute URL: an empty ';params' part is kept, extra slashes
        # before a special host are skipped, an empty host fails
        ("//o.example/p;", "http://o.example/p;"),
        ("///o.example/p", "http://o.example/p"),
        ("//", None),
        # a rel qualified with the base's own special scheme is the
        # scheme-less rel; another scheme makes it absolute
        ("http:p;", "http://host0.example/page/p;"),
        ("HTTP:/x;", "http://host0.example/x;"),
        ("http:p:q", "http://host0.example/page/p:q"),
        ("http://o.example/p;", "http://o.example/p;"),
        ("https:p", "https://p/"),
        ("", BASE),
        # a special base reads "\" as "/" before the query and fragment
        ("\\\\o.example/p", "http://o.example/p"),
        ("\\x\\y", "http://host0.example/x/y"),
        ("a\\b", "http://host0.example/page/a/b"),
        ("http:\\\\o.example\\p", "http://o.example/p"),
    ],
)
def test_whatwg_join_case(rel, expected):
    assert join_url(BASE, rel) == expected


# (base, rel, WHATWG result) where the base's query or fragment matters, or
# the base has no authority
WHATWG_JOIN_CASES = [
    # an empty rel is the base up to its fragment
    ("http://h.example/p#x", "", "http://h.example/p"),
    ("http://h.example/p?q#x", " \t", "http://h.example/p?q"),
    ("http://h.example/p?q#x", "http:", "http://h.example/p?q"),
    ("http://h.example/p?q#x", "http:#y", "http://h.example/p?q#y"),
    ("http://h.example/p?q#x", "http:?r", "http://h.example/p?r"),
    # a base without an authority joins only absolute rels
    ("mailto:a@h.example", "p", None),
    ("mailto:a@h.example", "mailto:b@h.example", "mailto:b@h.example"),
    ("mailto:a@h.example", "http://o.example/p;", "http://o.example/p;"),
    # only a special scheme makes a same-scheme rel relative
    ("foo://h.example/a/b", "foo:x", "foo:x"),
    ("foo://h.example/a/b", "x", "foo://h.example/a/x"),
    # "\" is a path separator only in a special URL
    ("http://h.example/a/b", "\\\\o.example/p", "http://o.example/p"),
    ("http://h.example/a/b", "\\x\\y", "http://h.example/x/y"),
    ("http://h.example/a/b", "a\\b", "http://h.example/a/a/b"),
    ("foo://h.example/a/b", "x\\y", "foo://h.example/a/x\\y"),
    # a file base with an empty host joins paths
    ("file:///etc/passwd", "x", "file:///etc/x"),
    ("file:///etc/passwd", "../y?q", "file:///y?q"),
]


@pytest.mark.parametrize("base,rel,expected", WHATWG_JOIN_CASES)
def test_whatwg_join_against_base(base, rel, expected):
    assert join_url(base, rel) == expected


def test_empty_href_drops_the_page_fragment():
    # <a href=""> on a page fetched as http://h.example/p#x links to the page
    assert normalize_url("", "http://h.example/p#x") == "http://h.example/p"


class TestParseAbsolute:
    def test_simple(self):
        assert parse_absolute("http://example.com/a") == "http://example.com/a"

    def test_scheme_host_lowercased(self):
        assert parse_absolute("HTTP://EXAMPLE.Com/Path") == "http://example.com/Path"

    def test_default_port_stripped(self):
        assert parse_absolute("http://example.com:80/a") == "http://example.com/a"
        assert parse_absolute("https://example.com:443/") == "https://example.com/"
        assert parse_absolute("http://example.com:8080/a") == "http://example.com:8080/a"

    def test_empty_path_becomes_slash(self):
        assert parse_absolute("http://example.com") == "http://example.com/"

    def test_dot_segments_removed(self):
        assert parse_absolute("http://e.com/a/b/../c") == "http://e.com/a/c"
        assert parse_absolute("http://e.com/a/./b") == "http://e.com/a/b"
        assert parse_absolute("http://e.com/../a") == "http://e.com/a"

    def test_fragment_preserved(self):
        assert parse_absolute("http://e.com/a#frag") == "http://e.com/a#frag"

    def test_query_preserved(self):
        assert parse_absolute("http://e.com/a?x=1&y=2") == "http://e.com/a?x=1&y=2"

    def test_space_percent_encoded(self):
        assert parse_absolute("http://e.com/a b") == "http://e.com/a%20b"

    def test_existing_percent_untouched(self):
        assert parse_absolute("http://e.com/a%20b") == "http://e.com/a%20b"

    def test_non_ascii_path_utf8_encoded(self):
        assert parse_absolute("http://e.com/héllo") == "http://e.com/h%C3%A9llo"

    def test_mailto_opaque(self):
        assert parse_absolute("mailto:user@example.com") == "mailto:user@example.com"

    def test_tel_opaque(self):
        assert parse_absolute("tel:+15551234567") == "tel:+15551234567"

    def test_relative_fails(self):
        assert parse_absolute("page2") is None
        assert parse_absolute("../x") is None
        assert parse_absolute("/abs/path") is None

    def test_empty_host_fails(self):
        assert parse_absolute("http://") is None

    def test_unknown_scheme_opaque(self):
        assert parse_absolute("foo:bar") == "foo:bar"

    def test_tab_newline_removed(self):
        assert parse_absolute("http://e.com/a\tb\nc") == "http://e.com/abc"

    def test_backslash_normalized(self):
        assert parse_absolute("http://e.com\\a\\b") == "http://e.com/a/b"


class TestJoin:
    def test_relative_path(self):
        assert join_url(BASE, "page2") == "http://host0.example/page/page2"

    def test_parent(self):
        assert join_url(BASE, "../x") == "http://host0.example/x"

    def test_dot_slash(self):
        assert join_url(BASE, "./y") == "http://host0.example/page/y"

    def test_root_relative(self):
        assert join_url(BASE, "/abs") == "http://host0.example/abs"

    def test_protocol_relative(self):
        assert join_url(BASE, "//other.example/z") == "http://other.example/z"

    def test_query_only(self):
        assert join_url(BASE, "?q=1") == "http://host0.example/page/1?q=1"


class TestNormalizeUrl:
    def test_fragment_only_dropped(self):
        assert normalize_url("#sec", BASE) is None
        assert normalize_url("#", BASE) is None

    def test_absolute_wins(self):
        assert normalize_url("http://a.example/x", BASE) == "http://a.example/x"

    def test_relative_joins(self):
        assert normalize_url("b.html", BASE) == "http://host0.example/page/b.html"

    def test_mailto(self):
        assert normalize_url("mailto:a@b.c", BASE) == "mailto:a@b.c"

    def test_none(self):
        assert normalize_url(None, BASE) is None

    def test_whitespace_trimmed(self):
        assert normalize_url("  http://a.example/x  ", BASE) == "http://a.example/x"

    def test_fragment_in_middle_kept(self):
        # only hrefs STARTING with '#' are dropped (links.rs:296-300)
        assert normalize_url("page#sec", BASE) == "http://host0.example/page/page#sec"


class TestFastPathParity:
    def test_fast_path_equals_slow_path(self):
        """The already-canonical fast-path regexes must be exact fixed-point
        detectors: disabling them must not change any result."""
        import re

        from webcrawler_woc_spark.functions import urlnorm

        samples = [
            "http://host0.example/page/0",
            "http://a.b/c/../d",
            "HTTP://X.Y/Z",
            "http://h.e:80/p",
            "http://h.e:8080/p",
            "http://h.e/p?q=%20x",
            "mailto:A@B.c",
            "mailto:user14@host4.example",
            "tel:+15550001111",
            "http://h.e/a b",
            "https://h.e/p#f",
            "ftp://f.e/x",
            "http://h.e/p/./q",
            "http://user@h.e/p",
            "http://h.e",
            "http://h.e/",
            "http://h.e/p?",
            "http://h.e/p#",
            "http://h_x.e/p",
            "http://h.e/%41",
            "http://h.e/p?q='x'",
            "http://h.e/p#'x'",
            "http://h.e/a/%2e%2e/b",
            "http://%68.e/p",
            "foo:bar",
            "page2",
            "//proto.rel/x",
        ]
        fast_s, fast_o = urlnorm._FAST_SPECIAL_RE, urlnorm._FAST_OPAQUE_RE
        never = re.compile(r"(?!)")
        try:
            with_fast = [urlnorm.parse_absolute(s) for s in samples]
            urlnorm._FAST_SPECIAL_RE = urlnorm._FAST_OPAQUE_RE = never
            urlnorm._abs_cache.clear()
            urlnorm._base_cache.clear()
            without_fast = [urlnorm.parse_absolute(s) for s in samples]
        finally:
            urlnorm._FAST_SPECIAL_RE, urlnorm._FAST_OPAQUE_RE = fast_s, fast_o
        assert with_fast == without_fast


class TestLinkType:
    def test_types(self):
        assert link_type_of("mailto:a@b.c") == "Mail"
        assert link_type_of("tel:+123") == "PhoneNo"
        assert link_type_of("http://e.com/") == "Other"
        assert link_type_of("foo:bar") == "Other"


class TestHostOf:
    def test_http(self):
        assert host_of("http://example.com/a") == "example.com"

    def test_with_port(self):
        assert host_of("http://example.com:8080/a") == "example.com"

    def test_mailto_no_host(self):
        assert host_of("mailto:a@b.c") is None

    def test_idempotent_canonicalization(self):
        # property: c(c(u)) == c(u) over assorted shapes
        cases = [
            "http://E.com:80/a/../b c?q=1#f",
            "https://x.example/",
            "mailto:Foo@Bar.com",
            "http://host3.example/page/7",
        ]
        for u in cases:
            c1 = parse_absolute(u)
            assert c1 is not None
            assert parse_absolute(c1) == c1
