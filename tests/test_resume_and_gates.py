"""Snapshot/resume determinism, re-crawl stash semantics, robots gating,
politeness deferral — the engine-side contracts from the north_star that the
reference has no direct specs for."""

import os
import shutil
from urllib.parse import parse_qs, urlparse

import pytest

import upton_spark.crawler as crawler_mod
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


def test_delta_commits_and_resume_across_compaction(spark, pages, tmp_path, monkeypatch):
    """At-scale round commits are DELTA-based: between compactions a round
    appends only its status map (politeness-bounded) to ``frontier_status``,
    never the whole frontier; the full frontier lands every COMPACT_EVERY
    rounds and at the end, removing the status rows. Resume must apply the
    status rows and stay byte-identical across a compaction boundary."""
    monkeypatch.setattr(crawler_mod, "COMPACT_EVERY", 2)
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
    )
    with pytest.raises(KilledCrawl):
        # the build commit (full), rounds 0 (delta), 1 (compact), 2 (delta)
        crawler.crawl(stop_after_round=2)
    snap = cat.latest()
    compacted = cat.load(snap.parent)
    # round 2 appended only its status rows; the frontier is round 1's
    assert snap.tables["frontier"] == compacted.tables["frontier"]
    assert "frontier_status" not in compacted.tables  # r1's compaction removed it
    assert {r["round"] for r in cat.table(snap, "frontier_status").collect()} == {2}
    resumed = Crawler(
        spark,
        pages,
        [basic_seed(sleep_time_between_requests=30.0)],
        round_budget_s=30.0,
        catalog=cat,
    ).resume()
    assert _texts(resumed) == ref_texts
    assert _links(resumed) == _links(ref)
    # the ending round writes the full frontier and removes the status rows
    final = cat.latest()
    assert "frontier_status" not in final.tables


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


def test_retry_state_survives_kill_and_resume(spark, pages, tmp_path, monkeypatch):
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
        )

    monkeypatch.setattr(crawler_mod, "COMPACT_EVERY", 2)

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
    # pagination runs inside the one fetch round loop: no phase of its own,
    # and instance rounds count on from 0 without a restart
    lineage = crawler.lineage_df().collect()
    assert {r["phase"] for r in lineage} == {"index", "instance"}
    rounds = sorted({r["round"] for r in lineage if r["phase"] == "instance"})
    assert rounds == [0, 1, 2]  # ?p=1, ?p=2, then the empty ?p=3


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


def test_frontier_columns_are_the_frontier_schema(spark, pages, tmp_path):
    """The frontier a crawl returns and the one it commits carry exactly
    schemas.FRONTIER's columns."""
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    result = Crawler(spark, pages, [basic_seed()], catalog=cat).crawl()
    names = sorted(schemas.FRONTIER.fieldNames())
    assert sorted(result.frontier.columns) == names
    assert sorted(cat.table(cat.latest(), "frontier").columns) == names


def test_resume_reads_a_frontier_committed_with_url_hash32(spark, pages, tmp_path):
    """A catalog whose frontier still carries the murmur3 ``url_hash32``
    column resumes to the extraction of an uninterrupted crawl, with
    instance pagination adding rows to the reloaded frontier."""
    from pyspark.sql import functions as F

    def next_page(url, k):
        if url == f"{BASE}/propublica_search.html" and k <= 2:
            return f"{BASE}/propublica_search.html?p={k + 1}"
        return ""

    search = SeedSpec(
        1,
        url_list=[f"{BASE}/propublica_search.html"],
        extract_selector=".compact-list a.title-link",
        extract_kind="list",
        sleep_time_between_requests=30.0,
    )
    seeds = [basic_seed(sleep_time_between_requests=30.0), search]

    def mk(catalog=None):
        return Crawler(
            spark, pages, seeds, round_budget_s=30.0, catalog=catalog,
            next_instance_page_url_fn=next_page,
        )

    ref = _texts(mk().crawl())
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    with pytest.raises(KilledCrawl):
        mk(cat).crawl(stop_after_round=0)
    snap = cat.latest()
    old_shape = cat.table(snap, "frontier").withColumn("url_hash32", F.hash("url"))
    cat.commit(snap.round, {"frontier": old_shape}, metrics=snap.metrics)
    assert "url_hash32" in cat.table(cat.latest(), "frontier").columns
    assert _texts(mk(cat).resume()) == ref


def _next_search_page(url, k):
    """The search instance's ?p=k+1 page while k <= 2 (?p=3 is empty)."""
    if url == f"{BASE}/propublica_search.html" and k <= 2:
        return f"{BASE}/propublica_search.html?p={k + 1}"
    return ""


def _paginated_crawler(spark, pages, catalog=None, hook=_next_search_page, **kw):
    """The basic seed plus the paginated search instance, one token per
    host per round (both share www.example.com)."""
    search = SeedSpec(
        1,
        url_list=[f"{BASE}/propublica_search.html"],
        extract_selector=".compact-list a.title-link",
        extract_kind="list",
        sleep_time_between_requests=30.0,
    )
    seeds = [basic_seed(sleep_time_between_requests=30.0), search]
    return Crawler(
        spark, pages, seeds, round_budget_s=30.0, catalog=catalog,
        next_instance_page_url_fn=hook, **kw,
    )


def _frontier_multiset(result, *cols):
    return sorted(tuple(r[c] for c in cols) for r in result.frontier.collect())


def test_resume_over_finished_paginated_crawl_returns_its_own_extraction(
    spark, pages, tmp_path
):
    """resume() over a finished catalog crawl with instance pagination adds
    no page: same extraction, and the frontier keeps one row per page."""
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    done = _paginated_crawler(spark, pages, cat).crawl()
    cols = ("url", "pagination_index", "status")
    want = (_texts(done), _frontier_multiset(done, *cols))
    again = _paginated_crawler(spark, pages, cat).resume()
    assert (_texts(again), _frontier_multiset(again, *cols)) == want


def test_resume_after_a_kill_inside_instance_pagination(spark, pages, tmp_path):
    """A crawl killed while it queues page 2 of an instance (the hook
    raises) resumes to the uninterrupted crawl: each page is fetched once
    and extracted once."""

    def raising(url, k):
        if k == 2:
            raise RuntimeError("killed at page 2")
        return _next_search_page(url, k)

    ref = _paginated_crawler(spark, pages, ManifestCatalog(spark, str(tmp_path / "ref"))).crawl()
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    # the hook runs in a Python worker: Spark re-raises its error wrapped
    with pytest.raises(Exception, match="killed at page 2"):
        _paginated_crawler(spark, pages, cat, hook=raising).crawl()
    resumed = _paginated_crawler(spark, pages, cat).resume()
    cols = ("url", "pagination_index", "status")
    assert _texts(resumed) == _texts(ref)
    assert _frontier_multiset(resumed, *cols) == _frontier_multiset(ref, *cols)


def _crawl_state(result, cat):
    """What a resumed crawl must share with the uninterrupted one:
    extraction, frontier, seen-set and lineage, in the result and in the
    catalog's latest snapshot."""
    return (
        _texts(result),
        _frontier_multiset(result, "url", "pagination_index", "status", "attempts"),
        sorted((r["url"], r["first_round"]) for r in result.urls_seen.collect()),
        sorted(tuple(r) for r in result.lineage.collect()),
        sorted(tuple(r) for r in cat.table(cat.latest(), "lineage").collect()),
    )


def test_kill_at_every_round_of_a_paginated_crawl_resumes_identically(
    spark, pages, tmp_path, monkeypatch
):
    """Pagination rounds run inside the fetch loop, so stop_after_round
    reaches every commit before the final one. Killed after any round
    (deferral, full and delta commits mixed by COMPACT_EVERY=2) and
    resumed, the crawl ends with the uninterrupted crawl's extraction,
    frontier, seen-set and lineage, in the result and in the final
    snapshot's lineage table."""
    monkeypatch.setattr(crawler_mod, "COMPACT_EVERY", 2)
    ref_cat = ManifestCatalog(spark, str(tmp_path / "ref"))
    ref = _paginated_crawler(spark, pages, ref_cat).crawl()
    want = _crawl_state(ref, ref_cat)
    n_rounds = ref.lineage.filter("phase = 'instance'").select("round").distinct().count()
    # one token per round: 5 page-0 rows, then ?p=2 and ?p=3
    assert n_rounds == 7
    for r in range(n_rounds):
        cat = ManifestCatalog(spark, str(tmp_path / f"kill{r}"))
        with pytest.raises(KilledCrawl):
            _paginated_crawler(spark, pages, cat).crawl(stop_after_round=r)
        resumed = _paginated_crawler(spark, pages, cat).resume()
        assert _crawl_state(resumed, cat) == want, f"killed after round {r}"


@pytest.fixture(scope="module")
def paginated_ref(spark, pages, tmp_path_factory):
    """(state, catalog) of one uninterrupted catalog crawl of the paginated
    seed pair, with COMPACT_EVERY=2."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(crawler_mod, "COMPACT_EVERY", 2)
        cat = ManifestCatalog(spark, str(tmp_path_factory.mktemp("paginated_ref")))
        return _crawl_state(_paginated_crawler(spark, pages, cat).crawl(), cat), cat


def test_kill_after_the_build_commit_resumes_identically(
    spark, pages, tmp_path, monkeypatch, paginated_ref
):
    """A catalog crawl's first snapshot is its built frontier: killed after
    that commit and before fetch round 0, the crawl resumes to the
    uninterrupted crawl's extraction, frontier, seen-set and lineage."""
    monkeypatch.setattr(crawler_mod, "COMPACT_EVERY", 2)
    want, _ = paginated_ref
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    crawler = _paginated_crawler(spark, pages, cat)

    def killed(*args, **kwargs):
        raise KilledCrawl(0)

    monkeypatch.setattr(crawler, "run_fetch_rounds", killed)
    with pytest.raises(KilledCrawl):
        crawler.crawl()
    assert cat.latest().metrics["phase"] == "frontier"
    resumed = _paginated_crawler(spark, pages, cat).resume()
    assert _crawl_state(resumed, cat) == want


def test_resume_without_a_committed_frontier_raises(spark, pages, tmp_path, monkeypatch):
    """A history-only catalog, or one whose crawl died before its first
    commit (in the index phase), has nothing to resume: resume() names
    the snapshot that lacks a frontier."""
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    row = (0, f"{BASE}/webinar.html", 0, None)
    history = cat.commit(
        -1, {"urls_seen": spark.createDataFrame([row], schemas.URLS_SEEN)},
        metrics={"phase": "history"},
    )
    crawler = Crawler(spark, pages, [basic_seed()], catalog=cat)

    def index_killed(*args, **kwargs):
        raise KilledCrawl(0)

    monkeypatch.setattr(crawler, "run_index_phase", index_killed)
    with pytest.raises(KilledCrawl):
        crawler.crawl()
    assert cat.snapshots() == [history.snapshot_id]
    with pytest.raises(ValueError, match=f"snapshot {history.snapshot_id} has no frontier"):
        Crawler(spark, pages, [basic_seed()], catalog=cat).resume()


def test_kill_between_two_table_writes_of_a_commit_resumes_identically(
    spark, pages, tmp_path, monkeypatch, paginated_ref
):
    """A commit publishes its manifest after writing every table, so a
    crawl killed between two table writes of a round commit leaves no
    snapshot for that round; the resume redoes the round and ends with the
    uninterrupted crawl's extraction, frontier, seen-set and lineage."""
    monkeypatch.setattr(crawler_mod, "COMPACT_EVERY", 2)
    want, ref_cat = paginated_ref
    # round 1 compacts: it writes the frontier, then its new seen rows
    # and lineage
    target = next(s.snapshot_id for s in map(ref_cat.load, ref_cat.snapshots()) if s.round == 1)
    root = str(tmp_path / "cat")
    cat = ManifestCatalog(spark, root)
    written = []
    write = cat._write

    def killed_write(name, df, sid, old):
        if sid == target:
            written.append(name)
            if len(written) == 2:
                raise KilledCrawl(1)
        return write(name, df, sid, old)

    monkeypatch.setattr(cat, "_write", killed_write)
    with pytest.raises(KilledCrawl):
        _paginated_crawler(spark, pages, cat).crawl()
    assert written[0] == "frontier" and len(written) == 2
    assert cat.snapshots()[-1] == target - 1
    # a new process: the same root, an unpatched catalog
    fresh = ManifestCatalog(spark, root)
    resumed = _paginated_crawler(spark, pages, fresh).resume()
    assert _crawl_state(resumed, fresh) == want


def test_resume_from_every_snapshot_of_a_crawl_matches_it(
    spark, pages, tmp_path, monkeypatch, paginated_ref
):
    """The catalog-truncation form of kill/resume identity: for each
    snapshot s of an uninterrupted crawl (its build commit and its final
    commit included), a catalog holding only the manifests up to s resumes
    to that crawl's extraction, frontier, seen-set and lineage."""
    monkeypatch.setattr(crawler_mod, "COMPACT_EVERY", 2)
    want, ref_cat = paginated_ref
    ids = ref_cat.snapshots()
    assert len(ids) == 9  # the build commit, 7 rounds, the final commit
    for n, s in enumerate(ids, 1):
        root = tmp_path / f"upto{s}"
        cat = ManifestCatalog(spark, str(root))
        for sid in ids[:n]:
            name = f"{sid:08d}.json"
            shutil.copy(os.path.join(ref_cat.root, "snapshots", name), root / "snapshots" / name)
        resumed = _paginated_crawler(spark, pages, cat).resume()
        assert _crawl_state(resumed, cat) == want, f"resumed from snapshot {s}"


def test_catalog_crawl_writes_each_table_once_per_commit(spark, pages, tmp_path, monkeypatch):
    """With a catalog the commit is the crawl's only checkpoint: crawl()
    and resume() pin no scratch copy of the frontier or the seen-set (the
    index phase's seen rows included), the final commit keeps the ending
    round's frontier files, and the result's extraction reads the
    committed table. Without a catalog the frontier is pinned in scratch."""
    monkeypatch.setattr(crawler_mod, "COMPACT_EVERY", 2)
    labels = []
    materialize = Crawler._materialize

    def spy(self, df, label):
        labels.append(label)
        return materialize(self, df, label)

    monkeypatch.setattr(Crawler, "_materialize", spy)
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    with pytest.raises(KilledCrawl):
        _paginated_crawler(spark, pages, cat, index_cached=True).crawl(stop_after_round=2)
    result = _paginated_crawler(spark, pages, cat, index_cached=True).resume()
    assert not {"frontier", "frontier_round", "urls_seen"} & set(labels), labels
    final = cat.latest()
    assert final.metrics["phase"] == "final"
    assert final.tables["frontier"] == cat.load(final.parent).tables["frontier"]
    files = {os.path.dirname(urlparse(f).path) for f in result.extracted.inputFiles()}
    assert files == set(final.tables["extracted"]["files"])
    labels.clear()
    _paginated_crawler(spark, pages).crawl()
    assert {"frontier", "frontier_round"} <= set(labels)


def test_kill_after_each_retry_round_resumes_identically(spark, pages, tmp_path, monkeypatch):
    """Retries cross a kill: killed after each delta round whose status map
    holds a 'retry' and resumed, the crawl ends with the uninterrupted
    crawl's frontier statuses and attempts, seen-set and extraction. The
    resume applies every status row appended since the last full frontier
    in one merge, a url's 'retry' rows of two rounds included."""
    failures = spark.createDataFrame(
        [(f"{BASE}/discussion.html", 1), (f"{BASE}/prosecutor.html", 99)],
        "url string, fail_times int",
    )

    def mk(catalog):
        return Crawler(
            spark, pages, [basic_seed(sleep_time_between_requests=30.0)],
            round_budget_s=30.0, fetch_failures=failures,
            max_fetch_attempts=3, catalog=catalog,
        )

    monkeypatch.setattr(crawler_mod, "COMPACT_EVERY", 3)

    def state(result):
        return (
            _texts(result),
            _frontier_multiset(result, "url", "status", "attempts"),
            sorted((r["url"], r["first_round"]) for r in result.urls_seen.collect()),
        )

    ref_cat = ManifestCatalog(spark, str(tmp_path / "ref"))
    want = state(mk(ref_cat).crawl())
    assert (f"{BASE}/discussion.html", "fetched", 1) in want[1]
    assert (f"{BASE}/prosecutor.html", "failed", 3) in want[1]
    # delta rounds are the snapshots holding status rows
    kills = [
        s.round for s in map(ref_cat.load, ref_cat.snapshots())
        if s.metrics.get("retried") and "frontier_status" in s.tables
    ]
    # one token per round: discussion retries in round 1, prosecutor in
    # rounds 3 and 4; rounds 2 and 5 compact
    assert kills == [1, 3, 4]
    for r in kills:
        cat = ManifestCatalog(spark, str(tmp_path / f"kill{r}"))
        with pytest.raises(KilledCrawl):
            mk(cat).crawl(stop_after_round=r)
        assert state(mk(cat).resume()) == want, f"killed after round {r}"


def test_resume_runs_no_spark_job_before_its_first_round(spark, pages, tmp_path, monkeypatch):
    """resume() takes the seen-set and frontier row counts from the
    manifest and reads each table with its recorded schema, so reloading a
    snapshot committed in full costs no Spark job."""

    class FirstRound(Exception):
        pass

    def first_round(*args, **kwargs):
        raise FirstRound

    seed = basic_seed(sleep_time_between_requests=30.0)
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    killed = Crawler(spark, pages, [seed], round_budget_s=30.0, catalog=cat)
    monkeypatch.setattr(killed, "run_fetch_rounds", first_round)
    with pytest.raises(FirstRound):
        killed.crawl()
    # the crawl died after its build commit, which holds the full frontier
    assert "frontier_status" not in cat.latest().tables

    crawler = Crawler(spark, pages, [seed], round_budget_s=30.0, catalog=cat)
    monkeypatch.setattr(crawler, "run_fetch_rounds", first_round)
    sc = spark.sparkContext
    sc.setJobGroup("resume_reload", "resume() up to its first round")
    try:
        with pytest.raises(FirstRound):
            crawler.resume()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("resume_reload")) == []
    crawler.close()


def test_seen_set_commits_append_only_the_new_rows(spark, pages, tmp_path):
    """A crawl over a committed history seen-set appends file groups that
    hold only the urls it marked seen: the history's files stay listed
    first and untouched, and the manifest's row count is the history's plus
    the new rows."""
    from pyspark.sql import functions as F

    n_history = 5_000
    history = spark.range(n_history).select(
        F.format_string(f"{BASE}/history/%d.html", "id").alias("url")
    ).select(
        F.xxhash64("url").alias("url_hash"),
        "url",
        F.lit(0).alias("first_round"),
        F.to_timestamp(F.lit("2020-01-01 00:00:00")).alias("fetched_at"),
    )
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    base = cat.commit(-1, {"urls_seen": history}, metrics={"phase": "history"})
    base_files = base.tables["urls_seen"]["files"]

    result = Crawler(spark, pages, [basic_seed()], catalog=cat, index_cached=True).crawl()
    entry = cat.latest().tables["urls_seen"]
    assert entry["files"][: len(base_files)] == base_files
    added = entry["files"][len(base_files):]
    assert added
    new_urls = []
    for path in added:
        group = spark.read.parquet(path)
        new_urls += [r["url"] for r in group.select("url").collect()]
    history_urls = {r["url"] for r in history.select("url").collect()}
    assert not history_urls & set(new_urls)
    assert len(new_urls) == len(set(new_urls))
    # the index page (index_cached) and the four instance pages
    assert len(new_urls) == 5
    assert spark.read.parquet(*base_files).count() == n_history
    assert cat.rows(cat.latest(), "urls_seen") == n_history + len(new_urls)
    assert result.urls_seen.count() == n_history + len(new_urls)
