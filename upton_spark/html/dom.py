"""Tolerant HTML tree builder on stdlib ``html.parser``.

Produces a minimal DOM: :class:`Element` nodes with ``tag``/``attrs``/
``children`` (children are Elements or plain ``str`` text nodes). Entity
references are decoded by the parser (``convert_charrefs=True``), matching
Nokogiri's decoded text nodes; ``<script>``/``<style>`` bodies stay raw
(html.parser CDATA handling), and comments are dropped — neither contributes
to ``.text`` in the reference either.

Error recovery implements the subset of tag-omission rules that matter for
real-world pages (auto-closing ``li/p/td/th/tr/option``, void elements,
stray end tags ignored) rather than the full HTML5 algorithm; goldens are
the acceptance test (tests/test_html_goldens.py).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col command embed hr img input keygen link meta param source track wbr".split()
)

# Starting <key> implicitly closes an open element in the mapped set.
_CLOSE_ON_START = {
    "li": {"li"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "tr": {"td", "th", "tr"},
    "tbody": {"td", "th", "tr", "tbody", "thead"},
    "thead": {"td", "th", "tr"},
    "tfoot": {"td", "th", "tr", "tbody"},
    "option": {"option"},
    "optgroup": {"option", "optgroup"},
    "dd": {"dd", "dt"},
    "dt": {"dd", "dt"},
}
_BLOCK_CLOSES_P = frozenset(
    "address article aside blockquote div dl fieldset footer form h1 h2 h3 h4 h5 h6 header hr "
    "main nav ol p pre section table ul".split()
)


class Element:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict[str, str | None] | None = None, parent: "Element | None" = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Element | str] = []
        self.parent = parent

    def get(self, name: str, default=None):
        return self.attrs.get(name, default)

    def classes(self) -> list[str]:
        return (self.attrs.get("class") or "").split()

    def iter_elements(self):
        """Pre-order (document order) traversal of descendant elements."""
        for child in self.children:
            if isinstance(child, Element):
                yield child
                yield from child.iter_elements()

    def iter_self_and_elements(self):
        yield self
        yield from self.iter_elements()

    def __repr__(self):  # pragma: no cover - debugging aid
        return f"<Element {self.tag} {self.attrs}>"


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Element("#document")
        self.stack = [self.root]

    # -- helpers -----------------------------------------------------------
    def _top(self) -> Element:
        return self.stack[-1]

    def _implied_end(self, tag: str) -> None:
        closes = _CLOSE_ON_START.get(tag, set())
        while len(self.stack) > 1 and self._top().tag in closes:
            self.stack.pop()
        if tag in _BLOCK_CLOSES_P:
            # close an open <p> unless we'd tear through table structure
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "p":
                    del self.stack[i:]
                    break
                if t in ("td", "th", "table", "caption"):
                    break

    # -- parser callbacks --------------------------------------------------
    def handle_starttag(self, tag, attrs):
        self._implied_end(tag)
        attr_dict: dict[str, str | None] = {}
        for name, value in attrs:
            attr_dict.setdefault(name, value)  # first occurrence wins
        el = Element(tag, attr_dict, self._top())
        self._top().children.append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        self._implied_end(tag)
        attr_dict: dict[str, str | None] = {}
        for name, value in attrs:
            attr_dict.setdefault(name, value)
        self._top().children.append(Element(tag, attr_dict, self._top()))

    def handle_endtag(self, tag):
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data):
        if data:
            self._top().children.append(data)


def parse_html(text: str, engine: str = "fast") -> Element:
    """Parse an HTML string into a DOM tree rooted at a ``#document`` node.

    ``engine``: "fast" (default; compiled-regex scanner feeding the same
    builder callbacks, ~3x faster at 150KB pages) or "stdlib"
    (html.parser). The fast path falls back to stdlib on any scanner
    error; both produce identical extraction output (comparative goldens
    in tests/test_fast_html.py)."""
    if engine == "fast":
        from upton_spark.html import fast

        builder = _TreeBuilder()
        try:
            fast.feed_events(builder, text or "")
            return builder.root
        except Exception:  # malformed beyond the scanner: stdlib recovers
            pass
    builder = _TreeBuilder()
    builder.feed(text or "")
    builder.close()
    return builder.root


_CHARSET_RE = re.compile(rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", re.I)


def decode_html_bytes(data: bytes | None) -> str:
    """Decode raw page bytes per the WHATWG sniffing order: a byte-order
    mark wins outright (UTF-8 / UTF-16LE / UTF-16BE — webmasters' meta
    tags lie, the BOM cannot), else ``<meta charset>`` in the head, else
    UTF-8; never fail (errors=replace) — a 10^10-page corpus always
    contains mislabeled encodings."""
    if data is None:
        return ""
    if isinstance(data, str):
        return data
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:].decode("utf-8", errors="replace")
    if data[:2] == b"\xff\xfe":
        return data[2:].decode("utf-16-le", errors="replace")
    if data[:2] == b"\xfe\xff":
        return data[2:].decode("utf-16-be", errors="replace")
    match = _CHARSET_RE.search(data[:4096])
    encoding = "utf-8"
    if match:
        try:
            encoding = match.group(1).decode("ascii")
            b"".decode(encoding)
        except (LookupError, UnicodeDecodeError):
            encoding = "utf-8"
    return data.decode(encoding, errors="replace")
