"""Property-based tests (hypothesis) for the HTML kernels.

The engine and the oracle share functions/html.py, so the crawl oracle
cannot catch a kernel bug. These properties check each single-scan kernel
against its HTMLParser definition on generated tag / attribute / entity /
text soup: ``_text_chunks_fast`` against the ``_TextCollector`` walk, and
``_hrefs_fast`` against the ``_LinkCollector`` walk. Markup inside the
scans' subset must take the scan; anything else may fall back to the walk.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from webcrawler_woc_spark.functions.html import (
    _hrefs_fast,
    _joined_text,
    _text_chunks_fast,
    _text_chunks_strict,
    extract_hrefs,
    extract_hrefs_strict,
    extract_text,
)

COMMON_SETTINGS = settings(max_examples=400, deadline=None)

TAG_NAMES = [
    "a", "A", "p", "P", "div", "br", "BR", "b", "span", "li", "title", "pre",
    "noscript", "template", "x-y", "h1", "abbr", "a-b", "o:p",
]
RAW_TEXT_NAMES = ["script", "SCRIPT", "style"]
ATTR_NAMES = ["href", "HREF", "class", "b", "data-href", "title", "x:y"]
WS = ["", " ", "\n", "\t", "\r\n", "\f"]

text = st.text(alphabet="ab yé你\n\r\t&;#=/\"'!?-x>", max_size=12)
entity = st.sampled_from(
    ["&amp;", "&amp", "&am", "&lt;", "&gt", "&#65;", "&#x41;", "&#0;", "&nbsp;", "&", "&#"]
)


def _attribute(subset: bool) -> st.SearchStrategy:
    """One attribute with its leading whitespace. ``subset`` keeps to the
    attribute syntax the scans accept (``_ATTR``); otherwise separators
    and values also take forms only the HTMLParser walks handle."""
    quoted = st.one_of(
        st.text(alphabet="ab <>'/=&;#", max_size=8).map(lambda v: f'"{v}"'),
        st.text(alphabet='ab <>"/=&;#', max_size=8).map(lambda v: f"'{v}'"),
    )
    if subset:
        sep, eq = st.sampled_from(WS[1:]), st.sampled_from([None, "=", " = ", "\n="])
        value = st.one_of(quoted, st.text(alphabet="ab/&;#", min_size=1, max_size=6))
    else:
        sep, eq = st.sampled_from(WS), st.sampled_from([None, "=", " = ", "\n=", "=="])
        value = st.one_of(quoted, st.text(alphabet="ab/&;#\"'=`<", max_size=6))
    return st.builds(
        lambda ws, name, eq, v: ws + name + ("" if eq is None else eq + v),
        sep, st.sampled_from(ATTR_NAMES), eq, value,
    )


def _tag(subset: bool) -> st.SearchStrategy:
    names = st.sampled_from(TAG_NAMES if subset else TAG_NAMES + RAW_TEXT_NAMES)
    attrs = st.lists(_attribute(subset), max_size=3).map("".join)
    ws = st.sampled_from(WS)
    slash = st.sampled_from(["/", " /"] if subset else ["/", " /", "/ ", "//"])
    return st.one_of(
        st.builds(lambda n, a, w: f"<{n}{a}{w}>", names, attrs, ws),
        st.builds(lambda n, w: f"</{n}{w}>", names, ws),
        st.builds(lambda n, a, s: f"<{n}{a}{s}>", names, attrs, slash),
    )


# a script/style element: raw text up to its close tag, or to the end
raw_text_element = st.builds(
    lambda name, body, close: f"<{name}>{body}{close.format(name.lower())}",
    st.sampled_from(RAW_TEXT_NAMES),
    st.text(alphabet="ab <p>&amp;/'\"", max_size=10),
    st.sampled_from(
        ["</{}>", "</{} >", "</ {}>", "</{}\n>", "</ {} x>", "</ſcript>", "</scrİpt>", ""]
    ),
)
odd_markup = st.sampled_from([
    "<!-- c -->", "<!--<p>-->", "<!DOCTYPE html>", "<?pi?>", "<![CDATA[x]]>", "<",
    "< p>", "</ p>", "</p x>", "</p/>", "</>", "<p", "</p", "<a href=x", "<3",
    '<a b=c"d>', "<br/ >", "<ſcript>", "<scrİpt>", "<ſtyle>",
])


def _soup(parts: st.SearchStrategy) -> st.SearchStrategy:
    return st.lists(parts, max_size=24).map("".join)


# markup the scans must handle themselves: their tag subset, text, entities
well_formed = _soup(st.one_of(text, entity, _tag(True), raw_text_element))
# anything: adds markup the scans leave to the HTMLParser walks
soup = _soup(st.one_of(text, entity, _tag(False), raw_text_element, odd_markup))


class TestTextKernel:
    @COMMON_SETTINGS
    @given(soup)
    def test_fast_path_equals_walk_or_falls_back(self, html):
        fast = _text_chunks_fast(html)
        if fast is not None:
            assert "".join(fast) == "".join(_text_chunks_strict(html))

    @COMMON_SETTINGS
    @given(soup)
    def test_extract_text_equals_walk(self, html):
        assert extract_text(html) == _joined_text(_text_chunks_strict(html))

    @COMMON_SETTINGS
    @given(well_formed)
    def test_subset_takes_the_fast_path(self, html):
        fast = _text_chunks_fast(html)
        assert fast is not None, html
        assert "".join(fast) == "".join(_text_chunks_strict(html))


class TestHrefKernel:
    @COMMON_SETTINGS
    @given(soup)
    def test_fast_equals_strict(self, html):
        assert extract_hrefs(html) == extract_hrefs_strict(html)

    @COMMON_SETTINGS
    @given(well_formed)
    def test_subset_takes_the_fast_path(self, html):
        assert _hrefs_fast(html) == extract_hrefs_strict(html), html
