"""Small-crawl job-diet semantics (crawler.py:job_diet).

crawl() and resume() disable AQE while the crawl is provably small (seeds
and built frontier under the JOB_DIET bounds) and restore the session conf
either way. The diet must be invisible in results: a crawl with the diet forced
off is bit-identical (extraction, seen-set, per-round lineage) to the
default dieted run — AQE only re-plans partitioning/join strategy, and
every small-side join on these paths carries an explicit broadcast hint.
"""

import pytest
from pyspark.sql import functions as F

import upton_spark.crawler as crawler_mod
from upton_spark.crawler import Crawler, KilledCrawl, SeedSpec
from upton_spark.sources.catalog import ManifestCatalog
from upton_spark.sources.fixtures import BASE, fixture_pages


@pytest.fixture(scope="module")
def pages(spark):
    return fixture_pages(spark).cache()


def _seed(**kw):
    base = dict(
        seed_id=0,
        seed_url=f"{BASE}/propublica.html",
        index_selector="section#river section h1 a",
        extract_selector="h1.article-title",
        extract_kind="text",
        sleep_time_between_requests=0.0,
    )
    base.update(kw)
    return SeedSpec(**base)


def _fingerprint(result):
    extracted = sorted(
        (r["url"], r["text"]) for r in result.extracted.select("url", "text").collect()
    )
    seen = sorted(r["url"] for r in result.urls_seen.select("url").collect())
    lineage = sorted(repr(tuple(r)) for r in result.lineage.collect())
    return extracted, seen, lineage


def test_diet_on_off_results_bit_identical(spark, pages, monkeypatch):
    dieted = Crawler(spark, pages, [_seed()]).crawl()
    fp_dieted = _fingerprint(dieted)
    # force the diet off via the module bounds — the same crawl must take
    # the AQE path and produce identical rows
    monkeypatch.setattr(crawler_mod, "JOB_DIET_MAX_SEEDS", 0)
    undieted = Crawler(spark, pages, [_seed()]).crawl()
    assert _fingerprint(undieted) == fp_dieted


def test_session_conf_restored_after_small_crawl(spark, pages):
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    Crawler(spark, pages, [_seed()]).crawl()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_width


def test_diet_narrows_shuffle_width_inside_and_restores(spark, pages):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        crawler = Crawler(spark, pages, [_seed()])
        with crawler.job_diet():
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(
                crawler_mod.JOB_DIET_SHUFFLE_WIDTH
            )
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_diet_never_widens_a_narrow_session(spark, pages):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        crawler = Crawler(spark, pages, [_seed()])
        with crawler.job_diet():
            assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_session_conf_restored_even_when_crawl_raises(spark, pages):
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    crawler = Crawler(spark, pages, [_seed()])

    def boom(*a, **kw):
        raise RuntimeError("injected")

    crawler.run_fetch_rounds = boom
    with pytest.raises(RuntimeError, match="injected"):
        crawler.crawl()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_bulk_crawl_keeps_aqe(spark, pages, monkeypatch):
    """A crawl past the seed bound must run its fetch/index phases WITH
    AQE — skew-join and partition coalescing are the 100x-scale story."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    seen_values = []
    crawler = Crawler(spark, pages, [_seed()])
    orig = crawler.run_index_phase

    def spying_index_phase(*a, **kw):
        seen_values.append(spark.conf.get("spark.sql.adaptive.enabled"))
        return orig(*a, **kw)

    crawler.run_index_phase = spying_index_phase
    monkeypatch.setattr(crawler_mod, "JOB_DIET_MAX_SEEDS", 0)
    crawler.crawl()
    assert seen_values == ["true"]

    # and under the default bounds the same phase sees AQE off
    monkeypatch.undo()
    seen_values.clear()
    crawler2 = Crawler(spark, pages, [_seed()])
    orig2 = crawler2.run_index_phase

    def spying2(*a, **kw):
        seen_values.append(spark.conf.get("spark.sql.adaptive.enabled"))
        return orig2(*a, **kw)

    crawler2.run_index_phase = spying2
    crawler2.crawl()
    assert seen_values == ["false"]


def test_frontier_overflow_restores_aqe_for_fetch(spark, pages, monkeypatch):
    """Small seed list that fans out past JOB_DIET_MAX_ROWS gets AQE back
    for the fetch rounds (the bulk of the work)."""
    monkeypatch.setattr(crawler_mod, "JOB_DIET_MAX_ROWS", 0)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    crawler = Crawler(spark, pages, [_seed()])
    orig = crawler.run_fetch_rounds

    def spying_fetch(*a, **kw):
        seen.append(spark.conf.get("spark.sql.adaptive.enabled"))
        return orig(*a, **kw)

    seen = []
    crawler.run_fetch_rounds = spying_fetch
    result = crawler.crawl()
    assert seen == ["true"]
    # correctness unaffected by the mid-crawl regime flip
    assert result.extracted.agg(F.count("*")).collect()[0][0] == 4


def test_small_resume_runs_its_fetch_rounds_under_the_diet(spark, pages, tmp_path):
    """resume() makes the same diet decision as crawl(), from the seed
    count and the committed frontier's row count in the manifest."""
    seed = _seed(sleep_time_between_requests=30.0)
    cat = ManifestCatalog(spark, str(tmp_path / "cat"))
    with pytest.raises(KilledCrawl):
        Crawler(spark, pages, [seed], round_budget_s=30.0, catalog=cat).crawl(stop_after_round=0)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    crawler = Crawler(spark, pages, [seed], round_budget_s=30.0, catalog=cat)
    orig = crawler.run_fetch_rounds

    def spying_fetch(*a, **kw):
        seen.append(spark.conf.get("spark.sql.adaptive.enabled"))
        return orig(*a, **kw)

    seen = []
    crawler.run_fetch_rounds = spying_fetch
    result = crawler.resume()
    assert seen == ["false"]
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert result.extracted.agg(F.count("*")).collect()[0][0] == 4


def test_warm_crawl_reuses_generated_classes(spark, pages, tmp_path):
    """Spark's codegen cache holds one crawl's generated classes, so a
    repeat of the same crawl compiles (Janino) almost nothing. At the
    default cache size of 100 every repeat recompiled ~170 classes. A
    warm repeat compiles 2: the driver's and the executors' copy of the
    class that inlines the seen-set ``fetched_at`` stamp. Results are forced under the job
    diet: with AQE on, codegen stage ids follow the order query stages
    finish, so the same plan can name its classes differently.

    A catalog crawl runs the round loop, whose emptiness probe must not
    name a fresh ``limit`` counter per call (``limit(1).count()`` does).
    With the clock pinned the stamp repeats too, so a warm repeat
    compiles nothing."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiles_per_crawl(make_crawler):
        per_crawl = []
        for i in range(3):
            before = compiles.getCount()
            crawler = make_crawler(i)
            result = crawler.crawl()
            with crawler.job_diet():
                _fingerprint(result)
            per_crawl.append(compiles.getCount() - before)
        return per_crawl

    per_crawl = compiles_per_crawl(lambda i: Crawler(spark, pages, [_seed()]))
    assert per_crawl[2] <= 4, per_crawl
    per_crawl = compiles_per_crawl(
        lambda i: Crawler(
            spark, pages, [_seed()], clock="2020-01-01 00:00:00",
            catalog=ManifestCatalog(spark, str(tmp_path / f"cat{i}")),
        )
    )
    assert per_crawl[2] == 0, per_crawl
