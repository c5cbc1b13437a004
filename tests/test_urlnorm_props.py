"""Property-based tests (hypothesis) for the URL canonicalization kernel.

The canonical form is the engine's identity for the seen-set, the join keys
and the politeness host — idempotence and representation invariants are what
keep 10^10-URL dedup sound. The golden corpus (test_urlnorm.py) pins exact
reference parity; these properties pin the algebra on arbitrary inputs.
"""

from __future__ import annotations

import re
import string
from unittest import mock
from urllib.parse import urljoin

from hypothesis import given, settings, strategies as st

from webcrawler_woc_spark.functions import urlnorm
from webcrawler_woc_spark.functions.urlnorm import (
    host_of,
    join_url,
    normalize_host,
    normalize_url,
    parse_absolute,
)

# printable-ascii soup plus URL-significant characters — adversarial but
# realistic (href attribute contents)
url_chars = st.text(
    alphabet=string.ascii_letters + string.digits + ":/?#[]@!$&'()*+,;=%.-_~ \t\n\\{}`\"<>",
    max_size=80,
)
hostish = st.text(
    alphabet=string.ascii_letters + string.digits + ".-" + "üñß",
    min_size=1,
    max_size=30,
)
COMMON_SETTINGS = settings(max_examples=300, deadline=None)

# URL-shaped strings that often take parse_absolute's already-canonical fast
# paths (and often just miss them: upper case, ports, dot segments, '%',
# unsafe characters), so the fast and strict paths see the same inputs
tail_chars = string.ascii_letters + string.digits + "!$&'()*+,-./:;=@_|[]^~%?#{}` \"<>\\"
fastish_urls = st.builds(
    lambda scheme, host, sep, tail: scheme + host + sep + tail,
    st.sampled_from(
        ["http://", "https://", "ws://", "wss://", "ftp://", "HTTP://", "http:/",
         "http:", "file://", "mailto:", "tel:", "MAILTO:", "data:"]
    ),
    st.text(alphabet=string.ascii_lowercase + string.digits + ".-Aü", max_size=12),
    st.sampled_from(["/", "", "/./", "/../", ":80/", ":8080/", "?", "#"]),
    st.text(alphabet=tail_chars, max_size=40),
)
# relative hrefs shaped like the ones pages carry
rel_hrefs = st.builds(
    lambda head, body: head + body,
    st.sampled_from(["", "/", "./", "../", "../../", "//", "?", "#", "p:", "http://x.test/"]),
    st.text(alphabet=tail_chars, max_size=40),
)
NEVER = re.compile(r"(?!)")


def _strict_parse(raw: str) -> str | None:
    """parse_absolute with both already-canonical fast paths switched off."""
    with mock.patch.object(urlnorm, "_FAST_SPECIAL_RE", NEVER), mock.patch.object(
        urlnorm, "_FAST_OPAQUE_RE", NEVER
    ):
        return parse_absolute(raw)


def _urljoin_drops_an_empty_part(base: str, rel: str) -> bool:
    """Path rels where urljoin drops an empty component that the fast join
    keeps (WHATWG keeps all three): an empty query or fragment (the shapes
    test_fast_join_matches_stdlib_urljoin skips), and RFC 2396 ';params'
    left empty — the last path segment's first ';' ends it (urljoin
    splits params off there and drops them when empty). The fast join's
    answers for both are pinned in test_round6_opt.py
    test_join_url_keeps_empty_query_and_fragment. Only a path rel reaches
    the join _strict_join swaps for urljoin: an absolute, empty, query- or
    fragment-only or protocol-relative rel (after a same-scheme qualifier
    is removed) takes the same path on both sides and is not skipped."""
    clean = rel.translate(urlnorm._TAB_NL).strip()
    scheme = urlnorm._rel_scheme_re.match(clean)
    if scheme is not None:
        if clean[: scheme.end() - 1].lower() != base.split(":", 1)[0]:
            return False
        clean = clean[scheme.end():]
    if clean[:1] in ("", "?", "#") or clean.startswith("//"):
        return False
    before_fragment = clean.split("#", 1)[0]
    path = before_fragment.split("?", 1)[0]
    last = path.rsplit("/", 1)[-1]
    return (
        clean.endswith("#")
        or before_fragment.endswith("?")
        or (";" in last and last.index(";") == len(last) - 1)
    )


def _strict_join(base: str, rel: str) -> str | None:
    """join_url with the fast path join swapped for stdlib urljoin over the
    same base (scheme, authority, path) — the reference for path rels."""

    def reference(bscheme, bnetloc, bpath, rel):
        return urljoin(f"{bscheme}://{bnetloc}{bpath}", rel)

    with mock.patch.object(urlnorm, "_fast_join", reference):
        return join_url(base, rel)


class TestParseAbsoluteProperties:
    @COMMON_SETTINGS
    @given(url_chars)
    def test_idempotent(self, raw):
        # canonicalizing a canonical URL must be a no-op: the seen-set
        # identity would otherwise drift between waves
        c = parse_absolute(raw)
        if c is not None:
            assert parse_absolute(c) == c

    @COMMON_SETTINGS
    @given(url_chars)
    def test_no_raw_whitespace_or_controls_survive(self, raw):
        c = parse_absolute(raw)
        if c is not None:
            assert not any(ch in c for ch in " \t\n\r\x00")

    @COMMON_SETTINGS
    @given(hostish, st.integers(0, 99999))
    def test_special_scheme_host_is_lowercase(self, host, n):
        c = parse_absolute(f"HTTP://{host}/page/{n}")
        if c is not None:
            h = host_of(c)
            assert h is not None and h == h.lower()
            assert c.startswith("http://")

    @COMMON_SETTINGS
    @given(url_chars, url_chars)
    def test_join_output_is_canonical(self, base_tail, rel):
        base = parse_absolute("http://example.test/" + base_tail)
        if base is None:
            return
        j = join_url(base, rel)
        if j is not None:
            assert parse_absolute(j) == j

    @COMMON_SETTINGS
    @given(url_chars)
    def test_normalize_url_matches_parse_or_join(self, href):
        # normalize_url(href, base) is the extraction-path entry: for an
        # absolute href it must agree with parse_absolute exactly
        base = "http://base.test/dir/page"
        out = normalize_url(href, base)
        absolute = parse_absolute(href)
        if absolute is not None:
            assert out == absolute
        if out is not None:
            assert parse_absolute(out) == out  # canonical either way


class TestFastPathsMatchStrict:
    """The fast paths are shortcuts, never definitions: with them switched
    off the kernel must give the same answer, on every input for
    parse_absolute and on every rel but the _urljoin_drops_an_empty_part
    shapes for join_url."""

    @COMMON_SETTINGS
    @given(st.one_of(fastish_urls, url_chars))
    def test_parse_absolute_fast_paths_match_strict(self, raw):
        assert parse_absolute(raw) == _strict_parse(raw)

    @COMMON_SETTINGS
    @given(
        st.sampled_from(
            ["http://h.example/", "http://h.example/a/b", "http://h.example/a/b/",
             "http://h.example/a/b?q=1#f", "https://user@h.example:8080/x/y/z.html"]
        ),
        rel_hrefs,
    )
    def test_fast_join_matches_strict_join(self, base, rel):
        if _urljoin_drops_an_empty_part(base, rel):
            return
        assert join_url(base, rel) == _strict_join(base, rel)


class TestNormalizeHostProperties:
    @COMMON_SETTINGS
    @given(hostish)
    def test_normalized_entry_matches_canonical_url_host(self, host):
        # a whitelist entry that normalizes must equal the host the engine
        # derives from a URL using it — the policy-matching invariant
        entry = normalize_host(host)
        if entry is None:
            return
        url = parse_absolute(f"http://{host}/x")
        if url is not None:
            assert host_of(url) == entry

    @COMMON_SETTINGS
    @given(hostish)
    def test_idempotent(self, host):
        entry = normalize_host(host)
        if entry is not None:
            assert normalize_host(entry) == entry
