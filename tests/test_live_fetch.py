"""Live-fetch transport seam (SURVEY §2.1, downloader.rb:50-68): with a
``fetch_fn`` transport injected, the frontier loop drives a real fetcher —
bodies for every admitted live decision come from the transport inside a
mapInPandas stage, each such fetch having consumed a politeness token, with
fetch errors mapped to the reference's EMPTY_STRING body. No network in CI:
the fake transport serves the reference fixture corpus from a dict, so a
live crawl must match the corpus-replay crawl bit-for-bit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from upton_spark.crawler import Crawler, SeedSpec
from upton_spark.sources.fixtures import BASE, fixture_pages


@pytest.fixture(scope="module")
def pages(spark):
    return fixture_pages(spark).cache()


@pytest.fixture(scope="module")
def web(pages):
    """The fixture corpus as a url -> html-bytes dict: the fake web the
    transport serves (what WebMock is to the reference's specs)."""
    return {
        r["url"]: bytes(r["html"]) if r["html"] is not None else None
        for r in pages.select("url", "html").collect()
    }


def _transport(web: dict, log_dir: str | None = None):
    def fetch(url: str):
        if log_dir is not None:
            # mapInPandas runs in executor Python workers — a closure list
            # would mutate worker-side copies. local[*] shares the FS, so
            # per-pid append files give the driver a faithful call log.
            import os

            with open(os.path.join(log_dir, f"calls-{os.getpid()}.log"), "a") as fh:
                fh.write(url + "\n")
        return web.get(url)

    return fetch


def _read_log(log_dir: str) -> list[str]:
    import os

    calls = []
    for name in os.listdir(log_dir):
        calls.extend(open(os.path.join(log_dir, name)).read().splitlines())
    return calls


def basic_seed(**kw):
    defaults = dict(
        seed_url=f"{BASE}/propublica.html",
        index_selector="section#river section h1 a",
        extract_selector="h1.article-title",
        extract_kind="text",
        sleep_time_between_requests=0.0,
    )
    defaults.update(kw)
    return SeedSpec(0, **defaults)


def _crawl_key(result):
    """(extraction, seen-set, frontier statuses, lineage) — the full
    equivalence surface the VERDICT item names."""
    return (
        sorted(
            (r["url"], r["instance_index"], r["pagination_index"], r["text"])
            for r in result.extracted.collect()
        ),
        sorted((r["url"], r["first_round"]) for r in result.urls_seen.collect()),
        sorted((r["url"], r["status"]) for r in result.frontier.collect()),
        sorted(tuple(r) for r in result.lineage.collect()),
    )


def test_fake_transport_matches_corpus_replay(spark, pages, web):
    """The VERDICT done-bar: the fake-transport crawl matches the
    corpus-replay crawl's extraction, seen-set, frontier, and lineage on
    the same seeds."""
    empty_stash = pages.limit(0)
    replay = Crawler(spark, pages, [basic_seed()]).crawl()
    live = Crawler(
        spark, empty_stash, [basic_seed()], fetch_fn=_transport(web)
    ).crawl()
    assert _crawl_key(live) == _crawl_key(replay)


def test_fake_transport_matches_replay_under_politeness(spark, pages, web):
    """Sleeping seeds: the live loop fetches round-by-round (one-shot is
    disqualified with a transport) yet must still be bit-identical to the
    replay crawl — including per-round lineage, proving the transport rows
    are exactly the token-charged admissions."""
    seed = basic_seed(sleep_time_between_requests=30.0)  # 2 tokens/round
    replay = Crawler(spark, pages, [seed]).crawl()
    live = Crawler(spark, pages.limit(0), [seed], fetch_fn=_transport(web)).crawl()
    assert _crawl_key(live) == _crawl_key(replay)
    # deferred rows existed (politeness spread rounds) and never hit the
    # transport: every transport call is unique (no refetch, no deferred
    # row leak — 1 index page + 4 instance pages)
    assert live.lineage.filter("deferred_by_politeness > 0").count() > 0


def test_transport_only_called_for_admitted_rows(spark, pages, web, tmp_path):
    """Token accounting at the seam: the set of urls the transport served ==
    the crawl's live-fetch decisions (index page + instance pages) —
    deferred/blocked rows never reach a real fetcher."""
    log_dir = str(tmp_path / "calls")
    import os

    os.makedirs(log_dir)
    seed = basic_seed(sleep_time_between_requests=30.0)
    res = Crawler(
        spark, pages.limit(0), [seed], fetch_fn=_transport(web, log_dir)
    ).crawl()
    res.extracted.collect()  # force the (lazy) extraction fetch stage
    fetched_urls = {
        r["url"] for r in res.frontier.filter("status = 'fetched'").collect()
    }
    fetched_urls.add(f"{BASE}/propublica.html")  # the index page
    assert set(_read_log(log_dir)) == fetched_urls
    # politeness charged every one of these: fetched lineage total == count
    n_lineage = (
        res.lineage.agg(F.sum("fetched").alias("n")).collect()[0]["n"]
    )
    assert n_lineage == len(fetched_urls)


def test_transport_error_becomes_empty_string_body(spark, pages, web):
    """downloader.rb:50-68: a fetch error is an EMPTY_STRING body, not a
    crash — transport None and transport raise both yield text '' for the
    affected instance page, everything else unharmed."""
    broken = dict(web)
    broken[f"{BASE}/discussion.html"] = None  # None -> error

    def raising(url):
        if url == f"{BASE}/prosecutor.html":
            raise OSError("connection reset")
        return broken.get(url)

    res = Crawler(spark, pages.limit(0), [basic_seed()], fetch_fn=raising).crawl()
    texts = {
        r["url"]: r["text"] for r in res.extracted.collect()
    }
    assert texts[f"{BASE}/discussion.html"] == ""
    assert texts[f"{BASE}/prosecutor.html"] == ""
    assert texts[f"{BASE}/webinar.html"] != ""


def _next_search_page(url, k):
    if url == f"{BASE}/propublica_search.html" and k <= 2:
        return f"{BASE}/propublica_search.html?p={k + 1}"
    return ""


def test_transport_called_exactly_once_per_url_across_actions(
    spark, pages, web, tmp_path
):
    """One token, ONE fetch: the transport stage is pinned before anything
    downstream reads it, so repeated actions over the crawl result (the
    count-then-collect pattern, per-kind extraction scans, commits) replay
    the pin — never the live web. An unpinned lazy transport would re-fetch
    every URL per action, silently multiplying real requests past the
    politeness budget. Under the instance-pagination hook the round's body
    probe and the extraction share that pin too."""
    import os
    from collections import Counter

    search = SeedSpec(
        0,
        url_list=[f"{BASE}/propublica_search.html"],
        extract_selector=".compact-list a.title-link",
        extract_kind="list",
        sleep_time_between_requests=0.0,
    )
    cases = {
        "index": ([basic_seed()], {}),
        "hooked": ([search], {"next_instance_page_url_fn": _next_search_page}),
    }
    for name, (seeds, kw) in cases.items():
        log_dir = str(tmp_path / f"calls_once_{name}")
        os.makedirs(log_dir)
        res = Crawler(
            spark, pages.limit(0), seeds, fetch_fn=_transport(web, log_dir), **kw
        ).crawl()
        # several actions over the same result, like a real consumer
        res.extracted.count()
        res.extracted.collect()
        res.extracted.agg(F.sum(F.length("text"))).collect()
        counts = Counter(_read_log(log_dir))
        dupes = {u: n for u, n in counts.items() if n > 1}
        assert dupes == {}, f"{name}: urls fetched more than once: {dupes}"
        n_fetched = res.lineage.agg(F.sum("fetched")).collect()[0][0]
        assert sum(counts.values()) == n_fetched, name
    # the hooked crawl fetched ?p=1, ?p=2 and the empty ?p=3
    assert len(counts) == 3
