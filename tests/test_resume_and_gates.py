"""Snapshot/resume determinism, re-crawl stash semantics, robots gating,
politeness deferral — the engine-side contracts from the north_star that the
reference has no direct specs for."""

from urllib.parse import parse_qs, urlparse

import pytest

from upton_spark import schemas, urlkit
from upton_spark.crawler import Crawler, KilledCrawl, SeedSpec
from upton_spark.operators.robots import robots_rules_df
from upton_spark.sources.catalog import ManifestCatalog
from upton_spark.sources.fixtures import BASE, fixture_pages
from tests import goldens


@pytest.fixture(scope="module")
def pages(spark):
    return fixture_pages(spark).cache()


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


def _texts(result):
    return [
        r["text"]
        for r in result.extracted.orderBy(
            "seed_id", "instance_index", "pagination_index", "match_index"
        ).collect()
    ]


def _links(result):
    return sorted(tuple(r) for r in result.links.collect())


def test_politeness_deferral_spreads_rounds(spark, pages):
    """sleep=30 & budget=30 → 1 token/host/round → the 4 same-host instance
    fetches spread across 4 rounds as deferred-by-politeness lineage."""
    crawler = Crawler(
        spark, pages, [basic_seed(sleep_time_between_requests=30.0)], round_budget_s=30.0
    )
    result = crawler.crawl()
    inst = result.lineage.filter("phase = 'instance'").orderBy("round")
    rows = inst.collect()
    rounds = {r["round"] for r in rows}
    assert len(rounds) == 4
    total_deferred = sum(r["deferred_by_politeness"] for r in rows)
    assert total_deferred == 3 + 2 + 1  # 3 deferred in r0, 2 in r1, 1 in r2
    assert _texts(result) == goldens.HEADLINES  # order unchanged by deferral


def test_robots_crawl_delay_tightens_politeness(spark, pages):
    """A robots Crawl-delay larger than the seed's sleep budget must win
    (max of the two): with delay=30 and budget=30 the 4 same-host instance
    fetches spread across 4 rounds even though the seed itself sleeps 0."""
    robots = robots_rules_df(
        spark, [("www.example.com", "User-agent: *\nCrawl-delay: 30\n")]
    )
    crawler = Crawler(
        spark, pages, [basic_seed()], robots=robots, round_budget_s=30.0
    )
    result = crawler.crawl()
    inst = result.lineage.filter("phase = 'instance'").collect()
    assert len({r["round"] for r in inst}) == 4
    assert sum(r["deferred_by_politeness"] for r in inst) == 3 + 2 + 1
    assert _texts(result) == goldens.HEADLINES


def test_large_history_seen_set_stays_one_exact_anti_join(spark, pages, tmp_path, monkeypatch):
    """A catalog crawl over a history seen-set of 2^16 + 1 rows (past the
    size where a Bloom pre-filter used to switch on) runs the same exact
    seen-set joins as a small one: no Bloom is built, the known instance
    URLs are stash hits, the others are fetched once, and the seen-set
    grows by exactly the fetched URLs."""
    from pyspark.sql import functions as F

    from upton_spark.operators import dedup as dedup_ops

    builds = []
    orig_build = dedup_ops.build_bloom

    def counting_build(*a, **kw):
        builds.append(1)
        return orig_build(*a, **kw)

    monkeypatch.setattr(dedup_ops, "build_bloom", counting_build)
    known = [f"{BASE}/webinar.html", f"{BASE}/prosecutor.html"]
    n_history = (1 << 16) + 1
    urls = spark.range(n_history - len(known)).select(
        F.format_string(f"{BASE}/history/%d.html", "id").alias("url")
    ).unionByName(spark.createDataFrame([(u,) for u in known], "url string"))
    history = urls.select(
        F.xxhash64("url").alias("url_hash"),
        "url",
        F.lit(0).alias("first_round"),
        F.to_timestamp(F.lit("2020-01-01 00:00:00")).alias("fetched_at"),
    )
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    cat.commit(-1, {"urls_seen": history}, metrics={"phase": "history"})

    result = Crawler(spark, pages, [basic_seed()], catalog=cat).crawl()
    assert builds == []
    assert _texts(result) == goldens.HEADLINES
    statuses = {r["url"]: r["status"] for r in result.frontier.collect()}
    assert {u: statuses[u] for u in known} == {u: "cache_hit" for u in known}
    fetched = sorted(u for u, st in statuses.items() if st == "fetched")
    assert fetched == [f"{BASE}/discussion.html", f"{BASE}/sixfacts.html"]
    assert result.urls_seen.count() == n_history + len(fetched)


def test_kill_and_resume_identical(spark, pages, tmp_path):
    """Kill after the first committed fetch round; resume must produce the
    identical extraction set, URL-seen set and links (north_star resume
    rule)."""
    # uninterrupted reference run
    ref = Crawler(
        spark, pages, [basic_seed(sleep_time_between_requests=30.0)], round_budget_s=30.0
    ).crawl()
    ref_texts = _texts(ref)
    ref_seen = sorted(r["url"] for r in ref.urls_seen.collect())

    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    crawler = Crawler(
        spark,
        pages,
        [basic_seed(sleep_time_between_requests=30.0)],
        round_budget_s=30.0,
        catalog=cat,
    )
    with pytest.raises(KilledCrawl):
        crawler.crawl(stop_after_round=1)
    # fresh crawler (new process semantics), same catalog
    resumed = Crawler(
        spark,
        pages,
        [basic_seed(sleep_time_between_requests=30.0)],
        round_budget_s=30.0,
        catalog=cat,
    ).resume()
    assert _texts(resumed) == ref_texts
    assert sorted(r["url"] for r in resumed.urls_seen.collect()) == ref_seen
    assert _links(resumed) == _links(ref)


def test_resume_over_finished_crawl_returns_its_own_links(spark, pages, tmp_path):
    """A catalog that already holds a finished crawl's links: a crawl over
    it, killed and resumed, must return its OWN links (written with its
    first full snapshot), never the earlier crawl's."""
    seed = basic_seed(sleep_time_between_requests=30.0)
    ref = Crawler(spark, pages, [seed], round_budget_s=30.0).crawl()
    cat = ManifestCatalog(spark, str(tmp_path / "cat_reused"))
    search = SeedSpec(
        0,
        seed_url=f"{BASE}/propublica_search.html",
        index_selector=".compact-list a.title-link",
        extract_selector="h1.article-title",
        extract_kind="text",
        paginated=True,
        pagination_param="p",
        pagination_max_pages=3,
        sleep_time_between_requests=0.0,
    )
    earlier = Crawler(spark, pages, [search], catalog=cat).crawl()
    assert _links(earlier) != _links(ref)
    with pytest.raises(KilledCrawl):
        Crawler(spark, pages, [seed], round_budget_s=30.0, catalog=cat).crawl(
            stop_after_round=0
        )
    resumed = Crawler(spark, pages, [seed], round_budget_s=30.0, catalog=cat).resume()
    assert _links(resumed) == _links(ref)
    assert _texts(resumed) == _texts(ref)


def test_delta_commits_and_resume_across_compaction(spark, pages, tmp_path):
    """At-scale round commits are DELTA-based: between compactions a round
    writes only its status map / newly-seen rows (politeness-bounded), never
    the whole frontier; full tables land every compact_every rounds and at
    the end, superseding the deltas. Resume must replay deltas in round
    order and stay byte-identical across a compaction boundary."""
    ref = Crawler(
        spark, pages, [basic_seed(sleep_time_between_requests=30.0)], round_budget_s=30.0
    ).crawl()
    ref_texts = _texts(ref)

    cat = ManifestCatalog(spark, str(tmp_path / "cat_delta"))
    crawler = Crawler(
        spark,
        pages,
        [basic_seed(sleep_time_between_requests=30.0)],
        round_budget_s=30.0,
        catalog=cat,
        compact_every=2,
    )
    with pytest.raises(KilledCrawl):
        crawler.crawl(stop_after_round=2)  # rounds 0(full),1(compact),2(delta)
    snap = cat.latest()
    delta_tables = [n for n in snap.tables if n.startswith("frontier_delta_r")]
    assert delta_tables == ["frontier_delta_r2"]  # r1 superseded by compaction
    resumed = Crawler(
        spark,
        pages,
        [basic_seed(sleep_time_between_requests=30.0)],
        round_budget_s=30.0,
        catalog=cat,
        compact_every=2,
    ).resume()
    assert _texts(resumed) == ref_texts
    assert _links(resumed) == _links(ref)
    # final commit supersedes all deltas
    final = cat.latest()
    assert not any(n.startswith("frontier_delta_r") for n in final.tables)


def test_recrawl_uses_stash(spark, pages, tmp_path):
    """Second crawl against the same catalog: all instance pages are cache
    hits (0 live fetches), mirroring the reference's stash behavior
    (lib/upton/downloader.rb:70-98)."""
    cat = ManifestCatalog(spark, str(tmp_path / "cat2"))
    first = Crawler(spark, pages, [basic_seed()], catalog=cat).crawl()
    n_live_first = (
        first.lineage.filter("phase='instance'").groupBy().sum("fetched").collect()[0][0]
    )
    assert n_live_first == 4
    second = Crawler(spark, pages, [basic_seed()], catalog=cat).crawl()
    rows = second.lineage.filter("phase='instance'").collect()
    assert sum(r["fetched"] for r in rows) == 0
    assert sum(r["cache_hits"] for r in rows) == 4
    assert _texts(second) == goldens.HEADLINES


def test_robots_gate_blocks_before_fetch(spark, pages):
    """Disallowed instance is never fetched: status=blocked, extraction sees
    an empty body (engine-side rule; reference has no robots support)."""
    robots = robots_rules_df(
        spark, [("www.example.com", "User-agent: *\nDisallow: /prosecutor.html\n")]
    )
    crawler = Crawler(spark, pages, [basic_seed()], robots=robots)
    result = crawler.crawl()
    texts = _texts(result)
    assert texts == [
        "Webinar: How to Use Prescriber Checkup to Power Your Reporting",
        "",
        "",  # prosecutor blocked by robots → empty body → empty extraction
        "Six Facts Lost in the IRS Scandal",
    ]
    statuses = {
        r["url"]: r["status"] for r in result.frontier.collect()
    }
    assert statuses[f"{BASE}/prosecutor.html"] == "blocked"
    blocked_total = result.lineage.groupBy().sum("blocked_by_robots").collect()[0][0]
    assert blocked_total == 1


def test_retry_state_survives_kill_and_resume(spark, pages, tmp_path):
    """attempts/status are part of the delta-committed round state: killing
    a crawl mid-retry and resuming must converge to the same terminal
    attempts, statuses, and extraction as an uninterrupted run."""
    failures = spark.createDataFrame(
        [(f"{BASE}/discussion.html", 2), (f"{BASE}/prosecutor.html", 99)],
        "url string, fail_times int",
    )

    def mk(catalog=None):
        return Crawler(
            spark,
            pages,
            [basic_seed()],
            fetch_failures=failures,
            max_fetch_attempts=3,
            catalog=catalog,
            compact_every=2,
        )

    ref = mk().crawl()
    ref_rows = {r["url"]: (r["status"], r["attempts"]) for r in ref.frontier.collect()}

    cat = ManifestCatalog(spark, str(tmp_path / "cat_retry"))
    with pytest.raises(KilledCrawl):
        mk(cat).crawl(stop_after_round=1)  # killed with retries still queued
    resumed = mk(cat).resume()
    res_rows = {r["url"]: (r["status"], r["attempts"]) for r in resumed.frontier.collect()}
    assert res_rows == ref_rows
    assert res_rows[f"{BASE}/prosecutor.html"] == ("failed", 3)
    assert res_rows[f"{BASE}/discussion.html"] == ("fetched", 2)
    assert _texts(resumed) == _texts(ref)
    assert _links(resumed) == _links(ref)


def test_fetched_at_and_readable_key(spark, pages):
    """fetched_at is stamped into the seen-set at mark-seen time (reference
    Time.now stash annotation, downloader.rb:100-116; pinned via clock for
    determinism), and the readable stash key reproduces
    readable_filename_from_uri (downloader.rb:130-135) incl. the 130-char
    budget."""
    from pyspark.sql import functions as F

    from upton_spark.functions.udfs import readable_key_col

    crawler = Crawler(spark, pages, [basic_seed()], clock="2024-03-01 12:00:00")
    result = crawler.crawl()
    stamps = {str(r["fetched_at"]) for r in result.urls_seen.collect()}
    assert stamps == {"2024-03-01 12:00:00"}

    long_url = "http://www.example.com/" + "a-b_c/" * 40  # cleans to >123 chars
    rows = (
        spark.createDataFrame([(f"{BASE}/prosecutor.html",), (long_url,)], "url string")
        .select("url", readable_key_col(F.col("url")).alias("key"))
        .collect()
    )
    by_url = {r["url"]: r["key"] for r in rows}
    # reference: uri.gsub(/[^A-Za-z0-9\-_]/, "")[0...(130-4-len(cache_loc))] + ".html"
    import re as _re

    for u, key in by_url.items():
        clean = _re.sub(r"[^A-Za-z0-9\-_]", "", u)[: 130 - 4 - len("/tmp/upton")]
        assert key == clean + ".html"
    assert len(by_url[long_url]) == 130 - 4 - len("/tmp/upton") + len(".html")


def test_index_fn_override_replaces_link_projection(spark, pages):
    """Pluggable index_fn (the reference's get_index/parse_index subclass
    override, lib/upton.rb:266-288): an arbitrary DataFrame transform
    replaces the selector-driven link projection end-to-end — here reversing
    crawl order, which must propagate to instance_index and extraction."""
    from pyspark.sql import functions as F

    from upton_spark.functions.udfs import extract_links_udf

    def custom_index(src):
        hrefs = extract_links_udf(
            F.col("html"), F.lit("section#river section h1 a"), F.col("seed_url")
        )
        return (
            src.withColumn("hrefs", F.reverse(hrefs))
            .select("seed_id", "page_round", F.posexplode("hrefs").alias("pos", "url"))
            .filter(F.col("url").isNotNull())
        )

    # the seed's own selector matches nothing: only the hook finds links
    crawler = Crawler(
        spark, pages, [basic_seed(index_selector=".nonexistent")], index_fn=custom_index
    )
    assert _texts(crawler.crawl()) == list(reversed(goldens.HEADLINES))


def test_index_politeness_defers_paginated_chains(spark, pages):
    """A sleeping index seed must NOT take the speculative all-pages-at-once
    index path: two index chains on one host with 1 token/host/round show
    per-round deferred-by-politeness lineage, while extraction goldens stay
    byte-identical."""
    seeds = [
        basic_seed(sleep_time_between_requests=30.0),
        SeedSpec(
            1,
            seed_url=f"{BASE}/propublica_search.html",
            index_selector=".compact-list a.title-link",
            extract_selector="h1.article-title",
            extract_kind="text",
            paginated=True,
            pagination_param="p",
            pagination_max_pages=3,
            sleep_time_between_requests=30.0,
        ),
    ]
    crawler = Crawler(spark, pages, seeds, round_budget_s=30.0)
    result = crawler.crawl()
    idx = result.lineage.filter("phase = 'index'").collect()
    assert sum(r["deferred_by_politeness"] for r in idx) >= 1
    # 1 propublica index page + 3 search pagination pages, each a live fetch
    assert sum(r["fetched"] for r in idx) == 4
    per_round_fetches = {r["round"]: r["fetched"] for r in idx if r["fetched"]}
    assert all(v <= 1 for v in per_round_fetches.values())  # 1 token/host/round
    assert _texts(result) == goldens.HEADLINES + goldens.SEARCH_RESULTS


def test_bounded_retry_and_terminal_failure(spark, pages):
    """Injected fetch failures: a transiently-failing url retries (attempts
    incremented, politeness token consumed per attempt) and succeeds inside
    the bound; a persistently-failing url goes terminal status='failed' after
    max_fetch_attempts with the reference's empty-body extraction semantics
    (lib/upton/downloader.rb:50-68 maps errors to ''; the reference's
    infinite timeout retry at downloader.rb:63-65 is bounded here)."""
    failures = spark.createDataFrame(
        [(f"{BASE}/discussion.html", 1), (f"{BASE}/prosecutor.html", 99)],
        "url string, fail_times int",
    )
    crawler = Crawler(
        spark, pages, [basic_seed()], fetch_failures=failures, max_fetch_attempts=3
    )
    result = crawler.crawl()
    rows = {r["url"]: r for r in result.frontier.collect()}
    assert rows[f"{BASE}/discussion.html"]["status"] == "fetched"
    assert rows[f"{BASE}/discussion.html"]["attempts"] == 1
    assert rows[f"{BASE}/prosecutor.html"]["status"] == "failed"
    assert rows[f"{BASE}/prosecutor.html"]["attempts"] == 3
    assert rows[f"{BASE}/webinar.html"]["status"] == "fetched"
    assert rows[f"{BASE}/webinar.html"]["attempts"] == 0
    # failed url extracts as '' (empty-body encoding), others unchanged
    texts = _texts(result)
    assert texts == [
        "Webinar: How to Use Prescriber Checkup to Power Your Reporting",
        "",
        "",  # prosecutor: terminal fetch failure → empty body
        "Six Facts Lost in the IRS Scandal",
    ]
    lin = result.lineage.filter("phase='instance'").collect()
    assert sum(r["retried"] for r in lin) == 1 + 2  # discussion once, prosecutor twice
    assert sum(r["failed"] for r in lin) == 1
    # failed urls are NOT marked seen: a later crawl retries them fresh
    seen = {r["url"] for r in result.urls_seen.collect()}
    assert f"{BASE}/prosecutor.html" not in seen
    assert f"{BASE}/discussion.html" in seen


def test_instance_pagination_hook(spark, pages):
    """next_instance_page_url hook (lib/upton.rb:127-129 override): page 2
    of the search instance is appended while bodies stay non-empty."""

    def next_page(url, k):
        if url == f"{BASE}/propublica_search.html" and k <= 2:
            return f"{BASE}/propublica_search.html?p={k + 1}"
        return ""

    seeds = [
        SeedSpec(
            0,
            url_list=[f"{BASE}/propublica_search.html"],
            extract_selector=".compact-list a.title-link",
            extract_kind="list",
            sleep_time_between_requests=0.0,
        )
    ]
    crawler = Crawler(spark, pages, seeds, next_instance_page_url_fn=next_page)
    docs = crawler.scrape()
    # doc per pagination page: p1 body anchors, then ?p=2 body anchors; the
    # empty ?p=3 body ends the chain (anchor texts verified against the
    # fixture pages directly).
    assert docs[0] == ["Tools & Data ", "Tools and Resources for Reporting the Stimulus "]
    assert docs[1] == ["Chapter 1. Using Google Refine to Clean Messy Data "]


def test_robots_gate_paths_equivalent(spark):
    """Dict path (collect+broadcast) and join path (per-host rule arrays
    joined by host) must produce identical admission decisions — incl.
    exact-agent group override, wildcards, anchors, and rule-less hosts."""
    from pyspark.sql import functions as F

    from upton_spark.operators.robots import RobotsGate, robots_rules_df

    robots = robots_rules_df(
        spark,
        [
            ("a.example", "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"),
            ("b.example", "User-agent: upton-spark\nDisallow: /only-us/\n"
                          "User-agent: *\nDisallow: /\n"),
            ("c.example", "User-agent: *\nDisallow: /*.pdf$\n"),
        ],
    )
    urls = [
        "http://a.example/private/x",
        "http://a.example:8080/private/x",  # explicit port: same portless host key
        "http://a.example/private/ok/page",
        "http://a.example/public",
        "http://b.example/only-us/page",
        "http://b.example/anything",
        "http://c.example/a/b.pdf",
        "http://c.example/a/b.pdfx",
        "http://norules.example/whatever",
    ]
    # host column exactly as the engine derives it: parse_url HOST (portless)
    frontier = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "host", F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    )
    for agent, expected in [
        ("upton-spark", {
            "http://a.example/private/x": False,
            "http://a.example:8080/private/x": False,
            "http://a.example/private/ok/page": True,
            "http://a.example/public": True,
            "http://b.example/only-us/page": False,
            "http://b.example/anything": True,  # exact group overrides '*'
            "http://c.example/a/b.pdf": False,
            "http://c.example/a/b.pdfx": True,
            "http://norules.example/whatever": True,
        }),
        ("*", {
            "http://b.example/only-us/page": False,
            "http://b.example/anything": False,  # '*' group: Disallow /
            "http://a.example:8080/private/x": False,  # port never unlocks a rule
        }),
    ]:
        gate_dict = RobotsGate(spark, robots, agent)  # default threshold -> dict
        assert gate_dict.mode == "dict"
        gate_join = RobotsGate(spark, robots, agent, dict_max_rules=0)  # force join
        assert gate_join.mode == "join"
        d = {r["url"]: r["robots_allowed"] for r in gate_dict(frontier).collect()}
        j = {r["url"]: r["robots_allowed"] for r in gate_join(frontier).collect()}
        assert d == j, agent
        for url, want in expected.items():
            assert d[url] is want, (agent, url)
        gate_dict.close()
        gate_dict.close()  # idempotent


def test_robots_rules_built_once_per_crawl(spark, pages, monkeypatch):
    """The round loop must reuse ONE RobotsGate across all fetch rounds —
    a per-round rebuild re-collects and re-broadcasts the rules table every
    round (the scale anti-pattern this test pins away)."""
    from upton_spark.operators import robots as robots_ops

    builds = []
    orig_init = robots_ops.RobotsGate.__init__

    def counting_init(self, *a, **kw):
        builds.append(1)
        orig_init(self, *a, **kw)

    monkeypatch.setattr(robots_ops.RobotsGate, "__init__", counting_init)
    robots = robots_rules_df(
        spark, [("www.example.com", "User-agent: *\nDisallow: /prosecutor.html\n")]
    )
    # sleep=30/budget=30 -> 1 token/host/round -> multiple fetch rounds
    crawler = Crawler(
        spark, pages, [basic_seed(sleep_time_between_requests=30.0)],
        robots=robots, round_budget_s=30.0,
    )
    result = crawler.crawl()
    assert len({r["round"] for r in result.lineage.filter("phase='instance'").collect()}) >= 3
    assert sum(builds) == 1
    statuses = {r["url"]: r["status"] for r in result.frontier.collect()}
    assert statuses[f"{BASE}/prosecutor.html"] == "blocked"


def test_oneshot_matches_loop_exactly(spark, pages, monkeypatch):
    """The closed-form one-shot fetch phase must be bit-identical to the
    round loop: same extraction, same frontier statuses, same seen-set incl.
    per-url first_round, same per-round lineage rows."""

    def run(force_loop):
        with monkeypatch.context() as m:
            if force_loop:
                m.setattr(Crawler, "_oneshot_eligible", lambda self, s: False)
            c = Crawler(
                spark, pages, [basic_seed(sleep_time_between_requests=30.0)],
                round_budget_s=30.0, clock="2024-03-01 12:00:00",
            )
            assert c._oneshot_eligible(None) is not force_loop
            res = c.crawl()
            return (
                _texts(res),
                sorted((r["url"], r["status"], r["attempts"]) for r in res.frontier.collect()),
                sorted((r["url"], r["first_round"], str(r["fetched_at"]))
                       for r in res.urls_seen.collect()),
                sorted(tuple(r) for r in res.lineage.collect()),
            )

    assert run(force_loop=False) == run(force_loop=True)


def test_oneshot_matches_loop_with_robots_and_delay(spark, pages, monkeypatch):
    """One-shot parity under robots blocking + Crawl-delay tokens."""
    robots = robots_rules_df(
        spark,
        [("www.example.com",
          "User-agent: *\nDisallow: /prosecutor.html\nCrawl-delay: 30\n")],
    )

    def run(force_loop):
        with monkeypatch.context() as m:
            if force_loop:
                m.setattr(Crawler, "_oneshot_eligible", lambda self, s: False)
            c = Crawler(
                spark, pages, [basic_seed()], robots=robots,
                round_budget_s=30.0, clock="2024-03-01 12:00:00",
            )
            res = c.crawl()
            return (
                _texts(res),
                sorted((r["url"], r["status"]) for r in res.frontier.collect()),
                sorted((r["url"], r["first_round"]) for r in res.urls_seen.collect()),
                sorted(tuple(r) for r in res.lineage.collect()),
            )

    assert run(force_loop=False) == run(force_loop=True)


def test_closed_form_decisions_pin_released_on_close(spark, pages):
    """The closed-form fetch phase pins its decisions in the crawler's
    scratch parquet, not the Spark cache: crawls leave no persisted
    DataFrame behind whether or not the crawler is closed, and close()
    removes the pin with the scratch dir."""
    import os

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    c = Crawler(
        spark, pages, [basic_seed(sleep_time_between_requests=30.0)], round_budget_s=30.0
    )
    assert c._oneshot_eligible(None)
    n_cached = persisted().size()
    for _ in range(2):
        assert _texts(c.crawl()) == goldens.HEADLINES
    assert persisted().size() == n_cached
    assert any("decisions" in d for d in os.listdir(c._scratch))
    c.close()
    assert not os.path.exists(c._scratch)
    assert persisted().size() == n_cached


def test_oneshot_ineligible_cases_fall_back(spark, pages):
    """Failure injection, catalogs, kill-simulation, and heterogeneous seed
    sleeps must keep the stateful loop (the closed form would be wrong or
    would break the per-round commit contract)."""
    failures = spark.createDataFrame([("u", 1)], "url string, fail_times int")
    assert not Crawler(spark, pages, [basic_seed()], fetch_failures=failures)._oneshot_eligible(None)
    assert not Crawler(spark, pages, [basic_seed()])._oneshot_eligible(1)
    hetero = [basic_seed(), SeedSpec(1, url_list=["http://x/y"], extract_selector="h1",
                                     extract_kind="text", sleep_time_between_requests=5.0)]
    assert not Crawler(spark, pages, hetero)._oneshot_eligible(None)
    assert Crawler(spark, pages, [basic_seed()])._oneshot_eligible(None)


# case -> (index seeds' sleep, Crawler kwargs, add a url_list seed with a
# different sleep, closed form expected)
INDEX_GRID = {
    "sleep0": (0.0, {}, False, True),
    "sleep30": (30.0, {}, False, True),
    "sleep0_index_cached": (0.0, {"index_cached": True}, False, True),
    "sleep30_index_cached": (30.0, {"index_cached": True}, False, False),
    "sleep30_catalog": (30.0, {"catalog": True}, False, True),
    "sleep30_url_list_other_sleep": (30.0, {}, True, True),
}


# case -> (index seeds' sleep, per-chain SeedSpec overrides) over the chain
# corpus: shapes whose chain pages the closed form and the loop once
# decided differently (a 0-started chain, interval 0, three chains on one
# host at 1 token per round)
CHAIN_GRID = {
    "chain_start0": (0.0, [dict(pagination_start_index=0)]),
    "chain_interval0": (0.0, [dict(pagination_start_index=0, pagination_interval=0,
                                   pagination_max_pages=3)]),
    "chain_three_start0_one_token": (30.0, [dict(pagination_start_index=0)] * 3),
}
CHAIN_BASE = "http://chains.example"


@pytest.fixture(scope="module")
def chain_pages(spark):
    """Index pages ``list{j}.html?page=0..3``, each linking to its own item
    page, so a crawl's links name exactly the index pages it fetched."""
    rows = []
    for j in range(3):
        for n in range(4):
            index = f'<ul><li><a class="item" href="/item/{j}/{n}.html">i</a></li></ul>'
            rows.append((f"{CHAIN_BASE}/list{j}.html?page={n}", None, index.encode(), None, None))
            rows.append((f"{CHAIN_BASE}/item/{j}/{n}.html", None,
                         f"<h1>item {j} {n}</h1>".encode(), None, None))
    return spark.createDataFrame(rows, schemas.PAGES).cache()


def _chain_seed(j, sleep, **kw):
    return SeedSpec(j, seed_url=f"{CHAIN_BASE}/list{j}.html", index_selector="a.item",
                    extract_selector="h1", extract_kind="text", paginated=True,
                    sleep_time_between_requests=sleep, **kw)


@pytest.mark.parametrize("case", sorted(INDEX_GRID) + sorted(CHAIN_GRID))
def test_index_oneshot_matches_sequential_loop(
    spark, pages, chain_pages, monkeypatch, tmp_path, case
):
    """The closed-form index schedule (one distributed pass) must reproduce
    the sequential round loop exactly — per-round lineage, link rows incl.
    page_round, seen-set incl. first_round, extraction — on the contended
    case: two paginated chains sharing one host, at unlimited tokens and at
    1 token/round, with stash checks, a catalog, and a url_list seed whose
    sleep differs from the index seeds'. Finite tokens with index_cached
    must keep the loop. The loop is forced through the single eligibility
    predicate. The chain cases also check that both fetch exactly the
    pages ``urlkit.index_page_urls`` lists."""
    if case in CHAIN_GRID:
        sleep, chains = CHAIN_GRID[case]
        corpus, kwargs, closed_form = chain_pages, {}, True

        def seeds():
            return [_chain_seed(j, sleep, **kw) for j, kw in enumerate(chains)]
    else:
        sleep, kwargs, url_list_seed, closed_form = INDEX_GRID[case]
        corpus = pages

        def seeds():
            out = [
                basic_seed(sleep_time_between_requests=sleep),
                SeedSpec(
                    1,
                    seed_url=f"{BASE}/propublica_search.html",
                    index_selector=".compact-list a.title-link",
                    extract_selector="h1.article-title",
                    extract_kind="text",
                    paginated=True,
                    pagination_param="p",
                    pagination_max_pages=3,
                    sleep_time_between_requests=sleep,
                ),
            ]
            if url_list_seed:
                out.append(SeedSpec(2, url_list=[f"{BASE}/easttimor.html"],
                                    extract_selector="h1.firstHeading", extract_kind="text",
                                    sleep_time_between_requests=5.0))
            return out

    def run(force_loop):
        with monkeypatch.context() as m:
            if force_loop:
                m.setattr(Crawler, "_index_oneshot_eligible", lambda self: False)
            kw = dict(kwargs)
            if kw.pop("catalog", False):
                kw["catalog"] = ManifestCatalog(spark, str(tmp_path / f"cat_{force_loop}"))
            c = Crawler(spark, corpus, seeds(), round_budget_s=30.0,
                        clock="2024-03-01 12:00:00", **kw)
            assert c._index_oneshot_eligible() is (closed_form and not force_loop)
            res = c.crawl()
            return (
                _texts(res),
                sorted(tuple(r) for r in res.lineage.collect()),
                sorted(tuple(r) for r in res.links.collect()),
                sorted((r["url"], r["status"]) for r in res.frontier.collect()),
                sorted((r["url"], r["first_round"]) for r in res.urls_seen.collect()),
            )

    closed = run(force_loop=False)
    assert closed == run(force_loop=True)
    if case in CHAIN_GRID:
        listed = [
            (s.seed_id, parse_qs(urlparse(u).query)["page"][0])
            for s in seeds()
            for u in urlkit.index_page_urls(
                s.seed_url, paginated=True, pagination_param=s.pagination_param,
                pagination_start_index=s.pagination_start_index,
                pagination_interval=s.pagination_interval,
                pagination_max_pages=s.pagination_max_pages,
            )
        ]
        lineage, links = closed[1], closed[2]
        assert sum(r[4] for r in lineage if r[0] == "index") == len(listed)
        assert sorted((sid, url) for sid, _, _, url in links) == sorted(
            (sid, f"{CHAIN_BASE}/item/{sid}/{n}.html") for sid, n in listed
        )


def test_negative_pagination_interval_rejected(spark, pages):
    """A paginated chain stepping backwards never passes
    pagination_max_pages, so the constructor refuses it."""
    with pytest.raises(ValueError, match="pagination_interval -1"):
        Crawler(spark, pages, [basic_seed(paginated=True, pagination_interval=-1)])


def test_index_fetched_materializes_without_html(spark, pages):
    """The oneshot/speculative index materialization must stay slim: when
    hrefs are projected in-pass (no index_fn), the html column is dropped
    before the write — at web scale the index_fetched parquet is chain
    metadata, not a second copy of the fetched pages."""
    c = Crawler(spark, pages, [basic_seed()])
    fetched = c._fetch_all_index_pages(c._empty_seen())
    assert "html" not in fetched.columns
    assert "hrefs" in fetched.columns

    def keep_html(src):
        from pyspark.sql import functions as F

        return src.select(
            "seed_id", F.col("page_round"), F.lit(0).alias("pos"), "url"
        )

    c2 = Crawler(spark, pages, [basic_seed()], index_fn=keep_html)
    fetched2 = c2._fetch_all_index_pages(c2._empty_seen())
    assert "html" in fetched2.columns  # the two-pass shape still carries it
