"""HTML engine goldens — replay of the reference RSpec extraction suite
(spec/upton_spec.rb:43-171, spec/unit/parsing_spec.rb:18-39) against the
fixture pages. Byte-identity is the contract (BASELINE.json north_star);
it is checked against the reference bytes when ``fixtures.REFERENCE_FIXTURES``
is true, else against the in-repo pages written from the same goldens."""

from upton_spark.html import (
    decode_html_bytes,
    extract_links,
    extract_list,
    extract_table,
    extract_text,
    parse_html,
    search,
)
from tests import goldens


class TestParseIndex:
    """spec/unit/parsing_spec.rb"""

    HTML = """
        <!doctype html><html lang="en"><head><meta charset="UTF-8"><title>Document</title></head>
        <body>
          <h1 class="item"><a href="http://example.com/thing/1">Thing 1</a></h1>
          <h1 class="item"><a href="http://example.com/thing/2">Thing 2</a></h1>

          <h2 class="bad-item"><a data-href="http://example.com/thing/xxx">Thing 2</a></h2>
        </body></html>"""
    BASE = "http://an.absolute.url.com/"

    def test_returns_list_for_no_match(self):
        assert extract_links(self.HTML, "h1#not-actually-existing-element", self.BASE) == []

    def test_counts_matches(self):
        assert len(extract_links(self.HTML, "h1.item a", self.BASE)) == 2

    def test_returns_hrefs(self):
        assert extract_links(self.HTML, "h1.item a", self.BASE)[0] == "http://example.com/thing/1"

    def test_none_for_anchor_without_href(self):
        assert extract_links(self.HTML, "h2.bad-item a", self.BASE) == [None]


class TestIndexPageGoldens:
    def test_propublica_index_links_in_dom_order(self):
        html = goldens.fixture_html("propublica.html")
        links = extract_links(html, "section#river section h1 a", f"{goldens.BASE}/propublica.html")
        assert links == [
            f"{goldens.BASE}/webinar.html",
            f"{goldens.BASE}/discussion.html",
            f"{goldens.BASE}/prosecutor.html",
            f"{goldens.BASE}/sixfacts.html",
        ]

    def test_relative_index_resolves(self):
        html = goldens.fixture_html("propublica-relative.html")
        links = extract_links(html, "section#river h1 a", f"{goldens.BASE}/propublica-relative.html")
        assert links == [f"{goldens.BASE}/prosecutor.html"]

    def test_search_pages(self):
        p1 = extract_links(
            goldens.fixture_html("propublica_search.html"),
            ".compact-list a.title-link",
            f"{goldens.BASE}/propublica_search.html?p=1",
        )
        p2 = extract_links(
            goldens.fixture_html("propublica_search_page_2.html"),
            ".compact-list a.title-link",
            f"{goldens.BASE}/propublica_search.html?p=2",
        )
        assert p1 == [f"{goldens.BASE}/webinar.html", f"{goldens.BASE}/prosecutor.html"]
        assert p2 == [f"{goldens.BASE}/sixfacts.html"]


class TestInstanceExtraction:
    def test_headline_goldens_byte_identical(self):
        pages = ["webinar.html", "discussion.html", "prosecutor.html", "sixfacts.html"]
        got = [extract_text(goldens.fixture_html(p), "h1.article-title") for p in pages]
        assert got == goldens.HEADLINES

    def test_empty_string_when_selector_missing(self):
        assert extract_text(goldens.fixture_html("discussion.html"), "h1.article-title") == ""

    def test_list_helper_golden(self):
        got = extract_list(
            goldens.fixture_html("propublica.html"), "#jamb.wNarrow #most-commented li a"
        )
        assert got == goldens.MOST_COMMENTED_HEDS

    def test_table_helper_golden(self):
        got = extract_table(goldens.fixture_html("easttimor.html"), goldens.TABLE_XPATH)
        normalized = [[cell.replace("\n", "") for cell in row] for row in got]
        assert normalized == goldens.EAST_TIMOR_PRIME_MINISTERS


class TestDecodeAndSelectorEngine:
    def test_decode_html_bytes_roundtrip(self):
        raw = goldens.fixture_bytes("propublica.html")
        assert decode_html_bytes(raw) == goldens.fixture_html("propublica.html")

    def test_decode_none_and_bad_bytes(self):
        assert decode_html_bytes(None) == ""
        assert decode_html_bytes(b"\xff\xfe<html>") != ""

    def test_child_and_sibling_combinators(self):
        html = "<div><p id='a'>x</p><p id='b'>y</p><span><p id='c'>z</p></span></div>"
        root = parse_html(html)
        assert [e.get("id") for e in search(root, "div > p")] == ["a", "b"]
        assert [e.get("id") for e in search(root, "p + p")] == ["b"]
        assert [e.get("id") for e in search(root, "div p")] == ["a", "b", "c"]

    def test_attribute_selectors(self):
        html = '<a href="x" rel="nofollow me">1</a><a href="y">2</a><a>3</a>'
        root = parse_html(html)
        assert len(search(root, "a[href]")) == 2
        assert len(search(root, 'a[href="x"]')) == 1
        assert len(search(root, 'a[rel~="me"]')) == 1
        assert len(search(root, 'a[href^="y"]')) == 1

    def test_comma_groups_in_document_order(self):
        html = "<i id='1'></i><b id='2'></b><i id='3'></i>"
        root = parse_html(html)
        assert [e.get("id") for e in search(root, "b, i")] == ["1", "2", "3"]

    def test_xpath_positional_predicate_per_parent(self):
        html = (
            "<div><table class='wikitable a'></table><table class='x wikitable'></table>"
            "<table class='other'></table></div>"
        )
        root = parse_html(html)
        got = search(root, goldens.TABLE_XPATH)
        assert len(got) == 1
        assert got[0].get("class") == "x wikitable"

    def test_xpath_attribute_equality(self):
        root = parse_html("<div><a id='q'>1</a><a>2</a></div>")
        assert len(search(root, "//a[@id='q']")) == 1


def test_extract_anchors_fixture_goldens():
    """(href, anchor text) pairs on the reference index fixture: the four
    golden headlines with their resolved instance urls, in DOM order."""
    from upton_spark.html.extract import extract_anchors

    html = goldens.fixture_html("propublica.html")
    got = extract_anchors(
        html, "section#river section h1 a", "http://www.example.com/propublica.html"
    )
    assert [h for h, _ in got] == [
        "http://www.example.com/webinar.html",
        "http://www.example.com/discussion.html",
        "http://www.example.com/prosecutor.html",
        "http://www.example.com/sixfacts.html",
    ]
    assert got[0][1] == "Webinar: How to Use Prescriber Checkup to Power Your Reporting"
    assert got[3][1] == "Six Facts Lost in the IRS Scandal"


def test_extract_anchors_preserves_missing_href():
    from upton_spark.html.extract import extract_anchors

    got = extract_anchors(
        '<p><a href="x.html">one</a><a name="n">two</a></p>', "p a", "http://h.x/base/"
    )
    assert got == [("http://h.x/base/x.html", "one"), (None, "two")]
