"""Streaming (SAX) extraction equivalence vs the DOM engine.

The SAX path (upton_spark/html/sax.py) must return byte-identical results
to the DOM path for every selector it accepts, and must decline (None) any
selector whose semantics it can't stream so extract.* falls back. Goldens:
reference fixture pages (spec/upton_spec.rb:14-40 selectors), synthetic
corpus pages, nested/comma/child-combinator cases.
"""

from __future__ import annotations

import pytest

from upton_spark.html.dom import decode_html_bytes, parse_html
from upton_spark.html.extract import node_set_text, text_of
from upton_spark.html.sax import stream_hrefs, stream_texts
from upton_spark.html.selector import search
from upton_spark.sources.corpus import _index_html, _instance_html
from upton_spark.sources.fixtures import fixture_paths

FIXTURES = fixture_paths()

SUPPORTED = [
    "section#river section h1 a",
    "h1.article-title",
    "#jamb.wNarrow #most-commented li a",
    "a",
    "li",
    "div p",
    "h1 > a",
    "section > h1 a",
    "a[href]",
    'a[href$=".html"]',
    "h1, h2, li a",
    "*",
]

UNSUPPORTED = [
    "h1 + p",          # sibling combinator
    "li ~ li",
    "li:first-child",  # pseudo
    '//table[contains(concat(" ", normalize-space(@class), " "), " wikitable ")][2]',
]

NESTED = [
    "<div class='x'><div class='x'>inner</div>tail</div>",
    "<ul><li>a<ul><li>b</li></ul></li><li>c</li></ul>",
    "<section id='river'><section><h1><a href='1.html'>one</a></h1></section>"
    "<section><h1>no link</h1></section></section>",
]


def _check(html: str, selectors=SUPPORTED):
    tree = parse_html(html)
    for sel in selectors:
        nodes = search(tree, sel)
        texts = stream_texts(html, sel)
        assert texts is not None, sel
        assert "".join(texts) == node_set_text(nodes), (sel, html[:80])
        assert texts == [text_of(n) for n in nodes], (sel, html[:80])
        hrefs = stream_hrefs(html, sel)
        assert hrefs == [n.get("href") for n in nodes], (sel, html[:80])


@pytest.mark.parametrize("path", FIXTURES, ids=[p.split("/")[-1] for p in FIXTURES])
def test_fixture_pages_stream_equivalent(path):
    _check(decode_html_bytes(open(path, "rb").read()))


@pytest.mark.parametrize("i", range(8))
def test_synthetic_pages_stream_equivalent(i):
    _check(_instance_html(i * 11, i * 3 + 2, paragraphs=25))
    _check(_index_html(i, 1, 12, 30))


@pytest.mark.parametrize("html", NESTED, ids=range(len(NESTED)))
def test_nested_matches_stream_equivalent(html):
    _check(html)


@pytest.mark.parametrize("sel", UNSUPPORTED, ids=range(len(UNSUPPORTED)))
def test_unsupported_selectors_decline(sel):
    assert stream_texts("<p>x</p>", sel) is None
    assert stream_hrefs("<p>x</p>", sel) is None


def test_quirks_stream_equivalent():
    from tests.test_fast_html import QUIRKS

    for html in QUIRKS:
        _check(html)


def test_fuzzed_sax_equivalent_to_dom():
    """Hypothesis fuzzer: the streaming matcher's wants_data/wants_attrs
    gating must not change results on adversarial markup — per-node texts
    and hrefs identical to the DOM engine (20k examples during development,
    400 per run here)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    frag = st.one_of(
        st.text(alphabet="<>&\"'/==, abpdiv13&amp;!?-\n\t", max_size=12),
        st.sampled_from([
            "<a href=", "<a href='x'>", "</a>", "<div>", "</div>", "<p>", "<br/>",
            "<a href=http://x.com/>", "text", "&amp;", "<!--c-->", "<b",
            "<script>x<y</script>", "='v'", "\"q\"", "<a href=a/b/>",
            "</ a>", "</3>", "</a b>", "</>", "<a href= 'y'>", "<a href=\"",
            "==", "<b/>", "<a b=1, c=2>", "</a/>", "</b",
        ]),
    )
    html_strategy = st.lists(frag, max_size=20).map("".join)

    @given(html_strategy)
    @settings(max_examples=400, deadline=None)
    def check(html):
        for sel in ("a", "div p", "a[href]"):
            nodes = search(parse_html(html, engine="fast"), sel)
            got = stream_texts(html, sel)
            if got is not None:
                assert got == [text_of(n) for n in nodes], (repr(html), sel)
            goth = stream_hrefs(html, sel)
            if goth is not None:
                assert goth == [n.get("href") for n in nodes], (repr(html), sel)

    check()
