"""URL kernel — pure-Python, Spark-free, golden-constrained.

These scalar functions reproduce the reference's URL semantics exactly
(goldens: /root/reference/spec/unit/resolve_url_spec.rb:12-75 and
spec/unit/pagination_spec.rb:12-31); the Arrow-vectorized wrappers that apply
them per-batch live in :mod:`upton_spark.functions.udfs`.

Reference behaviors reproduced:

* ``resolve_url`` — lib/upton.rb:233-259: absolute hrefs are returned
  unchanged (idempotent), scheme-relative ``//host`` adopts the base scheme,
  relative paths join RFC-3986 style, and invalid/non-absolute bases raise.
* ``next_index_page_url`` — lib/upton.rb:149-164: identity when not
  paginated; past ``pagination_max_pages`` returns ``""``; otherwise the
  pagination query parameter is set (existing params keep their order, a new
  param is appended — golden ``"#{url}&current_page=2"``).
* ``index_page_urls`` — lib/upton.rb:295-311: the pages of one index
  chain, the ``get_index_pages`` walk without its empty-body stop.
* ``next_instance_page_url`` — lib/upton.rb:127-129: default ``""`` (no
  instance pagination) unless the job supplies a hook.
* ``slug`` — lib/upton.rb:348-350 (regexes copied semantically, including
  the unescaped-dot quirk in ``/.html.*/``).
"""

from __future__ import annotations

import re
from urllib.parse import parse_qsl, urlencode, urljoin, urlparse, urlunparse

EMPTY_STRING = ""

# RFC 3986 characters legal anywhere in a URI (incl. percent signs and the
# gen-/sub-delims). Ruby's URI() raises InvalidURIError outside this set
# (e.g. on spaces); we mirror that with a ValueError.
_URI_LEGAL = re.compile(r"^[A-Za-z0-9\-._~:/?#\[\]@!$&'()*+,;=%]*$")


def _check_uri(s: str, what: str) -> None:
    if s is None or not isinstance(s, str):
        raise ValueError(f"{what} must be a string URI, got {s!r}")
    if not _URI_LEGAL.match(s):
        raise ValueError(f"{what} {s!r} is not a valid URI")


def is_absolute(url: str) -> bool:
    """True when the URL carries a scheme (Ruby ``URI#absolute?``)."""
    return bool(urlparse(url).scheme)


def resolve_url(href: str, base_url: str) -> str:
    """Resolve ``href`` against absolute ``base_url``; absolute hrefs pass through.

    Raises ValueError on nil/invalid arguments or a non-absolute base, the
    way the reference raises ArgumentError (lib/upton.rb:233-259).
    """
    _check_uri(base_url, "base_url")
    _check_uri(href, "href")
    if not is_absolute(base_url):
        raise ValueError(f"base_url {base_url!r} must be absolute")
    if is_absolute(href):
        return href
    return urljoin(base_url, href)


def resolve_url_or_none(href: str | None, base_url: str) -> str | None:
    """Nil-tolerant resolve for the dataflow path: anchors without an href
    project NULL and stay NULL (parse_index golden,
    spec/unit/parsing_spec.rb:33-38); unparseable hrefs also map to NULL
    rather than failing a 10^10-row job."""
    if href is None:
        return None
    try:
        return resolve_url(href, base_url)
    except ValueError:
        return None


def set_query_param(url: str, param: str, value) -> str:
    """Set/append a query-string parameter, preserving existing param order.

    Existing params keep their position (an existing ``param`` is updated in
    place); a new ``param`` is appended — matching Ruby's
    ``Hash[URI.decode_www_form(q)]`` update + ``URI.encode_www_form``
    (lib/upton.rb:156-162; golden appends ``&current_page=2``).
    """
    parts = urlparse(url)
    query = dict(parse_qsl(parts.query, keep_blank_values=True)) if parts.query else {}
    query[param] = str(value)
    return urlunparse(parts._replace(query=urlencode(query)))


def next_index_page_url(
    url: str,
    pagination_index: int,
    *,
    paginated: bool = False,
    pagination_param: str = "page",
    pagination_max_pages: int = 2,
) -> str:
    """Next index-pagination URL (lib/upton.rb:149-164)."""
    if not paginated:
        return url
    if pagination_index > pagination_max_pages:
        return EMPTY_STRING
    return set_query_param(url, pagination_param, pagination_index)


def index_page_urls(
    seed_url: str,
    *,
    paginated: bool,
    pagination_param: str,
    pagination_start_index: int,
    pagination_interval: int,
    pagination_max_pages: int,
) -> list[str]:
    """Every page of one index chain in fetch order — the reference's
    ``get_index_pages`` walk (lib/upton.rb:295-311) without its stop on an
    empty body, which needs the fetched pages. Page k has pagination_index
    ``start + k * interval``; the chain ends where ``next_index_page_url``
    returns ``""``, where the resolved URL repeats the previous page's
    (unpaginated chains, interval 0), or at an unresolvable URL."""
    if paginated and pagination_interval < 0:
        raise ValueError(f"pagination_interval {pagination_interval} < 0 never ends the chain")
    urls: list[str] = []
    index = pagination_start_index
    while True:
        raw = next_index_page_url(
            seed_url,
            index,
            paginated=paginated,
            pagination_param=pagination_param,
            pagination_max_pages=pagination_max_pages,
        )
        url = resolve_url_or_none(raw, seed_url) if raw else None
        if url is None or (urls and url == urls[-1]):
            return urls
        urls.append(url)
        index += pagination_interval


def next_instance_page_url(url: str, pagination_index: int) -> str:
    """Default: instances are unpaginated (lib/upton.rb:127-129)."""
    return EMPTY_STRING


def slug(url: str) -> str:
    """Last path segment with query and ``.html...`` tails stripped
    (lib/upton.rb:348-350; dot intentionally unescaped to match)."""
    last = url.split("/")[-1]
    last = re.sub(r"\?.*", "", last)
    return re.sub(r".html.*", "", last)


def host_of(url: str) -> str:
    """Lower-cased authority — the politeness/partitioning key."""
    return urlparse(url).netloc.lower()


def canonicalize(url: str) -> str:
    """Canonical form used as the Bloom/seen-set key: lower-case scheme and
    host, default port stripped, fragment dropped, path/query untouched.

    Deliberately conservative — two URLs that differ only in case of the
    path are distinct resources (the reference's stash keys on the raw URL
    string via MD5, lib/upton/downloader.rb:126-128)."""
    parts = urlparse(url)
    netloc = parts.netloc.lower()
    if (parts.scheme == "http" and netloc.endswith(":80")) or (
        parts.scheme == "https" and netloc.endswith(":443")
    ):
        netloc = netloc.rsplit(":", 1)[0]
    return urlunparse((parts.scheme.lower(), netloc, parts.path, parts.params, parts.query, ""))
