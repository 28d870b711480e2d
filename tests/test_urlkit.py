"""URL kernel goldens — replay of spec/unit/resolve_url_spec.rb:12-75,
spec/unit/pagination_spec.rb:12-31, and lib/upton.rb:348-350 slug semantics."""

import pytest

from upton_spark import urlkit

PAGE_URL = "http://www.propublica.org/"


class TestResolveUrl:
    def test_nil_arguments_raise(self):
        with pytest.raises(ValueError):
            urlkit.resolve_url("x", None)
        with pytest.raises(ValueError):
            urlkit.resolve_url(None, "y")

    def test_non_string_arguments_raise(self):
        with pytest.raises(ValueError):
            urlkit.resolve_url("http://1.com", 1)
        with pytest.raises(ValueError):
            urlkit.resolve_url({"some": "x"}, PAGE_URL)

    def test_non_absolute_base_raises(self):
        with pytest.raises(ValueError):
            urlkit.resolve_url("/path", "/dir")

    def test_absolute_href_is_idempotent(self):
        assert urlkit.resolve_url("http://propublican.org/", PAGE_URL) == "http://propublican.org/"

    def test_scheme_relative_adopts_base_scheme(self):
        assert urlkit.resolve_url("//some.org/", "https://secure.org") == "https://some.org/"

    def test_empty_href_returns_base(self):
        assert urlkit.resolve_url("", PAGE_URL) == PAGE_URL

    def test_hash_anchor(self):
        assert urlkit.resolve_url("#bang", PAGE_URL) == "http://www.propublica.org/#bang"

    def test_query_params(self):
        assert urlkit.resolve_url("?q=1", PAGE_URL) == "http://www.propublica.org/?q=1"

    def test_root_level_path(self):
        assert urlkit.resolve_url("/pages", PAGE_URL) == "http://www.propublica.org/pages"

    def test_subdir_path(self):
        assert urlkit.resolve_url("dir", PAGE_URL) == "http://www.propublica.org/dir"

    def test_subdir_path_without_trailing_slash(self):
        assert urlkit.resolve_url("dir", PAGE_URL.rstrip("/")) == "http://www.propublica.org/dir"

    def test_subdir_path_onto_existing_path(self):
        assert (
            urlkit.resolve_url("dir", "http://www.propublica.org/main/")
            == "http://www.propublica.org/main/dir"
        )

    def test_invalid_uri_raises(self):
        with pytest.raises(ValueError):
            urlkit.resolve_url("a b c", PAGE_URL)

    def test_or_none_variant_maps_failures_to_none(self):
        assert urlkit.resolve_url_or_none(None, PAGE_URL) is None
        assert urlkit.resolve_url_or_none("a b", PAGE_URL) is None
        assert urlkit.resolve_url_or_none("dir", PAGE_URL) == "http://www.propublica.org/dir"


class TestNextIndexPageUrl:
    PAGE = "http://www.propublica.org/search.php?q=test"

    def test_identity_when_not_paginated(self):
        assert urlkit.next_index_page_url(self.PAGE, 1, paginated=False) == self.PAGE

    def test_appends_pagination_param(self):
        got = urlkit.next_index_page_url(
            self.PAGE, 2, paginated=True, pagination_param="current_page", pagination_max_pages=10
        )
        assert got == f"{self.PAGE}&current_page=2"

    def test_empty_past_max_pages(self):
        got = urlkit.next_index_page_url(
            self.PAGE, 11, paginated=True, pagination_param="current_page", pagination_max_pages=10
        )
        assert got == ""

    def test_updates_existing_param_in_place(self):
        got = urlkit.next_index_page_url(
            "http://x.org/a?p=1&q=2", 3, paginated=True, pagination_param="p", pagination_max_pages=9
        )
        assert got == "http://x.org/a?p=3&q=2"

    def test_no_query_string(self):
        got = urlkit.next_index_page_url(
            "http://www.example.com/propublica_search.html",
            1,
            paginated=True,
            pagination_param="p",
            pagination_max_pages=3,
        )
        assert got == "http://www.example.com/propublica_search.html?p=1"


class TestIndexPageUrls:
    SEED = "http://www.example.com/propublica_search.html"

    def pages(self, **kw):
        args = dict(paginated=True, pagination_param="p", pagination_start_index=1,
                    pagination_interval=1, pagination_max_pages=3)
        args.update(kw)
        return urlkit.index_page_urls(self.SEED, **args)

    def test_paginated_chain_runs_to_max_pages(self):
        assert self.pages(pagination_start_index=0, pagination_max_pages=2) == [
            f"{self.SEED}?p=0", f"{self.SEED}?p=1", f"{self.SEED}?p=2"
        ]

    def test_repeat_ends_chain(self):
        assert self.pages(paginated=False) == [self.SEED]
        assert self.pages(pagination_interval=0) == [f"{self.SEED}?p=1"]

    def test_negative_interval_rejected(self):
        with pytest.raises(ValueError, match="pagination_interval"):
            self.pages(pagination_interval=-1)


class TestMisc:
    def test_next_instance_page_url_default_empty(self):
        assert urlkit.next_instance_page_url("http://x/a?page=1", 2) == ""

    def test_slug(self):
        assert urlkit.slug("http://x.org/dir/page.html?q=1") == "page"
        assert urlkit.slug("http://x.org/dir/page") == "page"

    def test_host_of(self):
        assert urlkit.host_of("https://WWW.Example.COM:8080/x") == "www.example.com:8080"

    def test_canonicalize(self):
        assert urlkit.canonicalize("HTTP://Example.com:80/A?b=1#frag") == "http://example.com/A?b=1"
        assert urlkit.canonicalize("https://example.com:443/") == "https://example.com/"
        assert urlkit.canonicalize("https://example.com:8443/") == "https://example.com:8443/"
