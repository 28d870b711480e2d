"""Property-based tests (hypothesis) for the URL kernel — invariants the
RSpec goldens can't cover exhaustively. The reference ships no
property-based tests (SURVEY.md §5); these harden the canonicalization /
resolve / pagination algebra the Bloom seen-set and frontier ordering are
built on.
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlparse

from hypothesis import given, settings
from hypothesis import strategies as st

from upton_spark import urlkit

_HOST = st.from_regex(r"[a-z][a-z0-9\-]{0,10}(\.[a-z]{2,6}){1,2}", fullmatch=True)
_PATH_SEG = st.from_regex(r"[A-Za-z0-9\-._~%]{0,12}", fullmatch=True)
_SCHEME = st.sampled_from(["http", "https"])
_PARAM = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)
_VALUE = st.from_regex(r"[A-Za-z0-9\-_]{0,10}", fullmatch=True)


@st.composite
def absolute_urls(draw):
    scheme = draw(_SCHEME)
    host = draw(_HOST)
    segs = draw(st.lists(_PATH_SEG, max_size=4))
    path = "/" + "/".join(segs) if segs else "/"
    params = draw(st.lists(st.tuples(_PARAM, _VALUE), max_size=3))
    query = "&".join(f"{k}={v}" for k, v in params)
    return f"{scheme}://{host}{path}" + (f"?{query}" if query else "")


@given(absolute_urls())
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent(url):
    once = urlkit.canonicalize(url)
    assert urlkit.canonicalize(once) == once


@given(absolute_urls())
@settings(max_examples=200, deadline=None)
def test_canonicalize_preserves_host_and_path(url):
    canon = urlkit.canonicalize(url)
    p, c = urlparse(url), urlparse(canon)
    assert c.netloc == p.netloc.lower()
    assert c.path == p.path
    assert c.fragment == ""


@given(absolute_urls(), absolute_urls())
@settings(max_examples=200, deadline=None)
def test_resolve_absolute_href_passes_through(base, href):
    assert urlkit.resolve_url(href, base) == href


@given(absolute_urls(), st.lists(_PATH_SEG.filter(bool), min_size=1, max_size=3))
@settings(max_examples=200, deadline=None)
def test_resolve_relative_lands_on_base_host(base, segs):
    resolved = urlkit.resolve_url("/".join(segs), base)
    assert urlparse(resolved).netloc == urlparse(base).netloc
    assert urlkit.resolve_url(resolved, base) == resolved  # idempotent once absolute


@given(absolute_urls(), _PARAM, st.integers(min_value=0, max_value=99))
@settings(max_examples=200, deadline=None)
def test_set_query_param_sets_and_preserves(url, param, value):
    out = urlkit.set_query_param(url, param, value)
    before = dict(parse_qsl(urlparse(url).query, keep_blank_values=True))
    after = dict(parse_qsl(urlparse(out).query, keep_blank_values=True))
    assert after[param] == str(value)
    for k, v in before.items():
        if k != param:
            assert after[k] == v
    # setting the same param twice is idempotent
    assert urlkit.set_query_param(out, param, value) == out


@given(absolute_urls(), _PARAM, st.integers(min_value=1, max_value=5), st.integers(min_value=1, max_value=5))
@settings(max_examples=200, deadline=None)
def test_next_index_page_url_bounds(url, param, index, max_pages):
    out = urlkit.next_index_page_url(
        url, index, paginated=True, pagination_param=param, pagination_max_pages=max_pages
    )
    if index > max_pages:
        assert out == ""
    else:
        assert dict(parse_qsl(urlparse(out).query))[param] == str(index)


def _reference_index_pages(url, start, interval, max_pages, paginated, param):
    """lib/upton.rb:295-311 get_index_pages, transcribed, with every fetched
    body non-empty: next url, stop on '', resolve, stop on a repeat."""
    pages, prev_url, index = [], None, start
    while True:
        next_url = urlkit.next_index_page_url(
            url, index, paginated=paginated, pagination_param=param,
            pagination_max_pages=max_pages,
        )
        if next_url == "":
            return pages
        next_url = urlkit.resolve_url(next_url, url)
        if next_url == prev_url:
            return pages
        pages.append(next_url)
        prev_url = next_url
        index += interval


@given(
    absolute_urls(), _PARAM, st.booleans(),
    st.integers(min_value=-3, max_value=6), st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_index_page_urls_is_the_reference_walk(url, param, paginated, start, interval, max_pages):
    pages = urlkit.index_page_urls(
        url, paginated=paginated, pagination_param=param, pagination_start_index=start,
        pagination_interval=interval, pagination_max_pages=max_pages,
    )
    assert pages == _reference_index_pages(url, start, interval, max_pages, paginated, param)
    if not paginated or interval == 0:
        assert len(pages) == (1 if not paginated or start <= max_pages else 0)
    else:
        assert len(pages) == max(0, (max_pages - start) // interval + 1)


@given(absolute_urls())
@settings(max_examples=200, deadline=None)
def test_slug_has_no_separator_query_or_html_tail(url):
    s = urlkit.slug(url)
    assert "/" not in s and "?" not in s
    assert ".html" not in s


# ---- approximate-membership filters: the invariant the crawl relies on ----
# (a false positive costs one anti-join probe; a false NEGATIVE would refetch
# a seen URL and break the ordering/seen-set contract — it must be impossible)

_HASH64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_HASH32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)


@given(st.lists(st.tuples(_HASH64, _HASH32), max_size=300))
@settings(max_examples=100, deadline=None)
def test_bloom_never_false_negative(pairs):
    import numpy as np

    from upton_spark.operators.dedup import BloomFilter

    bf = BloomFilter.sized_for(max(1, len(pairs)), 1e-3)
    if pairs:
        h64 = np.array([p[0] for p in pairs], dtype=np.int64)
        h32 = np.array([p[1] for p in pairs], dtype=np.int32)
        bf.add_hashes(h64, h32)
        assert bf.contains_hashes(h64, h32).all()


@given(st.lists(_HASH64, max_size=200, unique=True))
@settings(max_examples=100, deadline=None)
def test_cuckoo_contains_all_inserted_and_forgets_deleted(hashes):
    from upton_spark.operators.dedup import CuckooFilter

    cf = CuckooFilter.sized_for(max(16, len(hashes) * 2))
    inserted = [h for h in hashes if cf.add(h)]
    assert inserted == hashes  # sized for 2x: inserts must not fail
    for h in inserted:
        assert cf.contains(h)
    for h in inserted[: len(inserted) // 2]:
        assert cf.delete(h)
