"""Extraction primitives matching the reference's Nokogiri usage.

* ``extract_links``  — reference ``parse_index`` (lib/upton.rb:281-288):
  project each matched anchor's ``href`` (NULL when absent), resolved
  against the page URL.
* ``extract_text``   — the reference's flagship block
  (``doc.css(sel).text``, spec/upton_spec.rb:61-64): NodeSet#text is the
  concatenation of every matched element's text, ``""`` when no match.
* ``extract_list``   — Upton::Utils.list (lib/upton/utils.rb:35-40):
  one string per matched element.
* ``extract_table``  — Upton::Utils.table (lib/upton/utils.rb:20-31):
  first row = all ``th`` texts under the matched table(s), then one row of
  ``td`` texts per ``tr``.

Element ``.text`` is the in-order concatenation of descendant text nodes —
entities decoded, no whitespace normalization, ``<br>`` contributes nothing —
which is Nokogiri's behavior and the byte-identity contract.
"""

from __future__ import annotations

from upton_spark.html.dom import Element, parse_html
from upton_spark.html.sax import stream_hrefs, stream_texts
from upton_spark.html.selector import css_select_many, search
from upton_spark.urlkit import resolve_url_or_none


def text_of(el: Element) -> str:
    parts: list[str] = []
    _collect_text(el, parts)
    return "".join(parts)


def _collect_text(el: Element, parts: list[str]) -> None:
    for child in el.children:
        if isinstance(child, str):
            parts.append(child)
        else:
            _collect_text(child, parts)


def node_set_text(nodes: list[Element]) -> str:
    """Nokogiri NodeSet#text — concatenation over all matched nodes."""
    return "".join(text_of(n) for n in nodes)


def extract_links(html: str, selector: str, base_url: str) -> list[str | None]:
    """Hrefs of matched elements in document order; anchors without an href
    yield None (kept — golden spec/unit/parsing_spec.rb:33-38); relative
    hrefs resolved against ``base_url``.

    Hot path: streaming SAX match (selector pushdown into the tokenizer, no
    DOM allocation) for the compound/descendant/child selector family; DOM
    engine for everything else."""
    if not html:
        return []
    hrefs = stream_hrefs(html, selector)
    if hrefs is None:
        hrefs = [el.get("href") for el in search(parse_html(html), selector)]
    return [resolve_url_or_none(h, base_url) if h is not None else None for h in hrefs]


def extract_text(html: str, selector: str) -> str:
    if not html:
        return ""
    texts = stream_texts(html, selector)
    if texts is not None:
        return "".join(texts)
    return node_set_text(search(parse_html(html), selector))


def extract_list(html: str, selector: str) -> list[str]:
    if not html:
        return []
    texts = stream_texts(html, selector)
    if texts is not None:
        return texts
    return [text_of(el) for el in search(parse_html(html), selector)]


def extract_table(html: str, table_selector: str) -> list[list[str]]:
    """Header row (all th under the matched nodes) followed by one row of td
    texts per tr — exactly the reference helper's shape, including the empty
    row a th-only tr produces (golden @east_timor_prime_ministers row 2)."""
    # no short-circuit on empty html: the reference helper unconditionally
    # emits the header row, so '' → [[]]
    root = parse_html(html or "")
    matched = search(root, table_selector)
    output: list[list[str]] = []
    headers = [text_of(th) for th in css_select_many(matched, "th")]
    output.append(headers)
    for tr in css_select_many(matched, "tr"):
        output.append([text_of(td) for td in css_select_many([tr], "td")])
    return output


def extract_anchors(
    html: str, selector: str, base_url: str
) -> list[tuple[str | None, str]]:
    """(resolved href | None, element text) per matched element in document
    order — the link-graph-with-anchor-text projection crawl planning
    consumes (anchor text is the classic relevance signal for frontier
    prioritization). DOM engine (href+text together needs the tree; the
    split SAX streams would double-scan)."""
    if not html:
        return []
    out: list[tuple[str | None, str]] = []
    for el in search(parse_html(html), selector):
        href = el.get("href")
        out.append(
            (resolve_url_or_none(href, base_url) if href is not None else None, text_of(el))
        )
    return out
