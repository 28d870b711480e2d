"""Fast-tokenizer equivalence: the regex scanner must produce byte-identical
extraction output to the stdlib html.parser path over (a) every fixture
page (``fixtures.FIXTURE_DIR``), (b) synthetic Common-Crawl-style pages, (c) a battery of
quirky-markup cases. The goldens themselves (tests/test_html_goldens.py,
reference spec/upton_spec.rb:14-40) run against the default engine, so this
file is what licenses the fast path.
"""

from __future__ import annotations

import functools
import os

import pytest

from upton_spark.html.dom import decode_html_bytes, parse_html
from upton_spark.html.extract import (
    extract_links,
    extract_list,
    extract_table,
    extract_text,
)
from upton_spark.sources.corpus import _index_html, _instance_html
from upton_spark.sources.fixtures import FIXTURE_DIR, fixture_paths

FIXTURES = fixture_paths()

SELECTORS = [
    "section#river section h1 a",
    "h1.article-title",
    "#jamb.wNarrow #most-commented li a",
    "a",
    "table",
    "li",
    "div p",
    "h1 > a",
]

QUIRKS = [
    "",
    "plain text only",
    "<p>unclosed <b>bold",
    "<p>a &amp; b &lt;c&gt; &#65; &#x42;</p>",
    '<a href="x.html?a=1&amp;b=2">link</a><a href>empty</a><a>none</a>',
    "<ul><li>one<li>two<li>three</ul>",
    "<table><tr><th>H<tr><td>a<td>b</table>",
    "<script>if (a < b && c > d) { x = '<p>'; }</script><p>after</p>",
    "<style>p > a { color: red }</style><p>styled</p>",
    "<!-- comment with <tags> inside --><p>x</p>",
    "<!DOCTYPE html><html><body><p>doc</p></body></html>",
    "<p>1 < 2 but 3 > 2</p>",
    "<div class='single'>sq</div><div class=bare>bare</div>",
    "<br><hr><img src=x.png><input type=text>",
    "<p>self-close<br/>mid</p>",
    "<P>UPPER <A HREF='Y.HTML'>CASE</A></P>",
    "<div data-x='1' checked>attrs</div>",
    "<p>trailing <",
    "<p>multi\nline\ttext  spaces</p>",
    "<?xml version='1.0'?><p>pi</p>",
    '<a href="a.html" href="b.html">dup attr</a>',
    # unquoted attribute values ending in '/' (HTML5: the slash is part of
    # the value, NOT a self-close marker)
    "<a href=http://example.com/>site</a>",
    "<a href=http://e.com//>double</a>",
    "<a href=/>rooted</a>",
    "<a href = http://e.com/>spaced eq</a>",
    "<img src=a.png/ alt=b><p>after</p>",
    "<div data-path=/a/b/>slashes</div>",
]


def _texts_of_fixture(name: str) -> str:
    return decode_html_bytes(open(name, "rb").read())


def _nodes_per_engine(html: str, sel: str):
    from upton_spark.html.selector import search

    return [search(parse_html(html, engine=e), sel) for e in ("fast", "stdlib")]


def _assert_equivalent(html: str):
    from upton_spark.html.extract import node_set_text, text_of

    for sel in SELECTORS:
        assert extract_text(html, sel) is not None  # default engine runs
        fast_nodes, std_nodes = _nodes_per_engine(html, sel)

        assert node_set_text(fast_nodes) == node_set_text(std_nodes), (sel, html[:80])
        assert [n.get("href") for n in fast_nodes] == [n.get("href") for n in std_nodes]
        assert [text_of(n) for n in fast_nodes] == [text_of(n) for n in std_nodes]


@pytest.mark.parametrize("path", FIXTURES, ids=[p.split("/")[-1] for p in FIXTURES])
def test_fixture_pages_equivalent(path):
    _assert_equivalent(_texts_of_fixture(path))


def test_fixture_links_and_tables_equivalent(monkeypatch):
    """Links: both DOM engines against the SAX path extract_links takes.
    Tables: extract_table parses with each engine in turn."""
    from upton_spark.html import extract as extract_mod
    from upton_spark.urlkit import resolve_url_or_none

    base = "http://www.example.com/propublica.html"
    html = _texts_of_fixture(os.path.join(FIXTURE_DIR, "propublica.html"))
    fast, std = (
        [resolve_url_or_none(n.get("href"), base) for n in nodes]
        for nodes in _nodes_per_engine(html, "section#river section h1 a")
    )
    assert fast == std == extract_links(html, "section#river section h1 a", base)
    assert fast

    wiki = _texts_of_fixture(os.path.join(FIXTURE_DIR, "easttimor.html"))
    xpath = (
        '//table[contains(concat(" ", normalize-space(@class), " "),'
        ' " wikitable ")][2]'
    )
    tables = []
    for engine in ("fast", "stdlib"):
        monkeypatch.setattr(
            extract_mod, "parse_html", functools.partial(parse_html, engine=engine)
        )
        tables.append(extract_table(wiki, xpath))
    assert tables[0] == tables[1]
    assert len(tables[0]) > 1


@pytest.mark.parametrize("i", range(12))
def test_synthetic_pages_equivalent(i):
    _assert_equivalent(_instance_html(i * 7, i * 13 + 1, paragraphs=30))
    _assert_equivalent(_index_html(i, 1, 10, 25))


@pytest.mark.parametrize("html", QUIRKS, ids=range(len(QUIRKS)))
def test_quirky_markup_equivalent(html):
    _assert_equivalent(html)


def test_fuzzed_markup_equivalent():
    """Hypothesis fuzzer over adversarial markup fragments: the fast scanner
    must stay event-equivalent to stdlib html.parser on ANY input — start/end
    tag extents, attribute values, junk recovery, and incomplete-tag
    buffering are driven by html.parser's own regexes, and this holds the
    line (it caught 7 real divergences when first introduced)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from upton_spark.html.extract import node_set_text
    from upton_spark.html.selector import search

    frag = st.one_of(
        st.text(alphabet="<>&\"'/==, abpdiv13&amp;!?-\n\t", max_size=12),
        st.sampled_from([
            "<a href=", "<a href='x'>", "</a>", "<div>", "</div>", "<p>", "<br/>",
            "<a href=http://x.com/>", "text", "&amp;", "&#65;", "<!--c-->", "<b",
            "<script>x<y</script>", "='v'", "\"q\"", "<a href=a/b/>", "<img src=x/>",
            "</ a>", "</3>", "</a b>", "</>", "<a href= 'y'>", "<a href=\"",
            "href='", "==", "<b/>", "<a b=1, c=2>", "<a / >", "</a/>", "</b",
        ]),
    )
    html_strategy = st.lists(frag, max_size=20).map("".join)

    @given(html_strategy)
    @settings(max_examples=600, deadline=None)
    def check(html):
        for sel in ("a", "div p", "b"):
            f = search(parse_html(html, engine="fast"), sel)
            s = search(parse_html(html, engine="stdlib"), sel)
            assert node_set_text(f) == node_set_text(s), (repr(html), sel)
            assert [n.get("href") for n in f] == [n.get("href") for n in s], (repr(html), sel)

    check()


def test_list_helper_equivalent():
    """Both DOM engines against the SAX path extract_list takes."""
    from upton_spark.html.extract import text_of

    html = _texts_of_fixture(os.path.join(FIXTURE_DIR, "propublica.html"))
    sel = "#jamb.wNarrow #most-commented li a"
    fast, std = ([text_of(n) for n in nodes] for nodes in _nodes_per_engine(html, sel))
    assert fast == std == extract_list(html, sel)
    assert fast


def test_vendored_start_tag_regexes_match_stdlib():
    """The scanner prefers html.parser's own tolerant regexes (stdlib-
    identical semantics by construction) and carries vendored copies as an
    import-safe fallback. On interpreters where the internals exist, the
    vendored patterns must be byte-identical — loud drift detection for a
    future CPython change."""
    import html.parser as hp

    from upton_spark.html import fast

    for vendored, name in [
        (fast._VENDORED_LOCATE_START, "locatestarttagend_tolerant"),
        (fast._VENDORED_TAGFIND, "tagfind_tolerant"),
        (fast._VENDORED_ATTRFIND, "attrfind_tolerant"),
    ]:
        stdlib_rx = getattr(hp, name, None)
        if stdlib_rx is not None:
            assert vendored.pattern == stdlib_rx.pattern, name
