"""Physical-plan shape checks — the scale contracts SURVEY.md §4 promises:
filters pushed to the parquet scan, html column pruned except in extraction,
broadcast joins for frontier/dim sides, single host exchange for politeness."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.01"


def test_q1_filter_pushdown(spark, sf_dir):
    import __spark_entry__ as m

    plan = plan_of(m.q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_projection_pruning(spark, sf_dir):
    import __spark_entry__ as m

    plan = plan_of(m.q_host_stats(spark, sf_dir))
    # scan must read only the two needed columns, never text
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "source" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema


def test_broadcast_dim_joins(spark, sf_dir):
    import __spark_entry__ as m

    plan = plan_of(m.q_region_rollup_sales(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_attach_bodies_streams_corpus_without_shuffle(spark):
    """The body join must broadcast the frontier side and column-prune the
    pages scan to (url, html) — no Exchange on the corpus."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    pages = fixture_pages(spark)
    seeds = [
        SeedSpec(0, url_list=[f"{BASE}/webinar.html"], extract_selector="h1",
                 extract_kind="text", sleep_time_between_requests=0.0)
    ]
    crawler = Crawler(spark, pages, seeds, assume_unique_urls=True)
    frontier = crawler.build_frontier(
        spark.createDataFrame([], "seed_id int, page_round int, pos int, url string")
    )
    plan = plan_of(crawler.attach_bodies(frontier), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_smj_body_join_when_frontier_not_broadcastable(spark):
    """broadcast_frontier=False is the 10^10-frontier path: the body join
    must fall back to a shuffle join (SortMergeJoin once the corpus outgrows
    the broadcast threshold) and produce byte-identical extraction output."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages
    from tests import goldens

    pages = fixture_pages(spark)

    def seeds():
        return [
            SeedSpec(
                0,
                seed_url=f"{BASE}/propublica.html",
                index_selector="section#river section h1 a",
                extract_selector="h1.article-title",
                extract_kind="text",
                sleep_time_between_requests=0.0,
            )
        ]

    def texts(result):
        return [
            r["text"]
            for r in result.extracted.orderBy(
                "seed_id", "instance_index", "pagination_index", "match_index"
            ).collect()
        ]

    smj = Crawler(spark, pages, seeds(), broadcast_frontier=False, assume_unique_urls=True)
    frontier = smj.build_frontier(
        spark.createDataFrame(
            [(0, 0, 0, f"{BASE}/webinar.html")], "seed_id int, page_round int, pos int, url string"
        )
    )
    # fixture pages are tiny, so pin the shuffle-join shape by disabling
    # auto-broadcast (at real scale AQE makes this call from stats)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(smj.attach_bodies(frontier), mode="simple")
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan
        result_smj = Crawler(
            spark, pages, seeds(), broadcast_frontier=False, assume_unique_urls=True
        ).crawl()
        smj_texts = texts(result_smj)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert smj_texts == goldens.HEADLINES
    result_b = Crawler(spark, pages, seeds(), assume_unique_urls=True).crawl()
    assert texts(result_b) == smj_texts


def test_politeness_single_host_exchange(spark, sf_dir):
    """Admission ranking adds exactly one hash exchange keyed on the host
    column (the same partitioning the frontier stores under)."""
    from upton_spark.operators.politeness import admit_per_host

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("source").alias("host"),
        F.col("doc_id").alias("priority"),
        F.lit(5).alias("host_tokens"),
    )
    plan = plan_of(admit_per_host(docs, order_cols=("priority",)), mode="simple")
    assert plan.count("Exchange hashpartitioning(host") == 1


def test_status_merge_broadcasts_delta_not_frontier(spark):
    """The per-round status merge must broadcast the (politeness-bounded)
    delta side — the frontier itself is never shuffled for a status update
    (the delta-commit contract at 10^10 rows)."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    pages = fixture_pages(spark)
    seeds = [
        SeedSpec(0, url_list=[f"{BASE}/webinar.html"], extract_selector="h1",
                 extract_kind="text", sleep_time_between_requests=0.0)
    ]
    crawler = Crawler(spark, pages, seeds, assume_unique_urls=True)
    frontier = crawler.build_frontier(
        spark.createDataFrame([], "seed_id int, page_round int, pos int, url string")
    )
    delta = spark.createDataFrame(
        [(123, "fetched")], "url_hash long, new_status string"
    )
    plan = plan_of(crawler._merge_status(frontier, delta), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hot_hosts_topk_uses_take_ordered(spark, sf_dir):
    """Top-k hot hosts must plan as TakeOrderedAndProject (per-partition
    top-k + k-row driver merge), never a partition-less row_number window
    sorting the full host histogram in one task."""
    import __spark_entry__ as m

    plan = plan_of(m.q_hot_hosts_topk(spark, sf_dir), mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_pruned_pages_requires_raw_scan(spark, tmp_path):
    """File-level prune re-reads matched files raw, so it must refuse to run
    when ``pages`` is not the unmodified scan of ``pages_path`` (a filtered/
    projected pages would otherwise silently see excluded rows) — and the
    fallback (unpruned join) must respect the caller's transformation."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import fixture_pages

    path = str(tmp_path / "pages")
    fixture_pages(spark).write.parquet(path)
    raw = spark.read.parquet(path)
    seeds = [SeedSpec(0, url_list=["http://www.example.com/webinar.html"],
                      extract_selector="h1", extract_kind="text",
                      sleep_time_between_requests=0.0)]
    keys = spark.createDataFrame(
        [("http://www.example.com/webinar.html",)], "url string"
    )

    ok = Crawler(spark, raw, seeds, pages_path=path)
    assert ok._pruned_corpus(keys, 1) is not None

    filtered = Crawler(
        spark, raw.filter(F.col("url") != "http://www.example.com/webinar.html"),
        seeds, pages_path=path,
    )
    assert filtered._pruned_corpus(keys, 1) is None


def test_codegen_covers_quality_stats(spark, sf_dir):
    """Quality features must stay in whole-stage codegen (no Python eval)."""
    from upton_spark.operators.textops import with_quality_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(with_quality_stats(docs), mode="simple")
    assert "*(1)" in plan  # whole-stage codegen marker
    assert "EvalPython" not in plan  # no BatchEvalPython/ArrowEvalPython


def test_extract_builds_only_present_kind_branches(spark):
    """extract() must plan one body-join branch per extract_kind actually in
    the seed list — an unconditional 4-way union costs 4 corpus scans
    (regression guard for the branch-pruning fix)."""
    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    pages = fixture_pages(spark)
    seeds = [
        SeedSpec(0, url_list=[f"{BASE}/webinar.html"], extract_selector="h1",
                 extract_kind="text", sleep_time_between_requests=0.0)
    ]
    crawler = Crawler(spark, pages, seeds, assume_unique_urls=True)
    frontier = crawler.build_frontier(
        spark.createDataFrame([], "seed_id int, page_round int, pos int, url string")
    )
    plan = plan_of(crawler.extract(crawler.attach_bodies(frontier)), mode="simple")
    # text kind only -> exactly one Python UDF eval in the plan
    assert plan.count("extract_text_udf") == 1
    assert "extract_table_udf" not in plan
    assert "extract_list_udf" not in plan


def test_prescan_probes_url_file_map(spark, tmp_path):
    """The first corpus prune builds its cached url→file map and every
    prune probes that map, never the corpus scan: a driver-known candidate
    list filters it, other candidates semi-join it, and both read the same
    matched files, a strict subset of the corpus files."""
    from pyspark.sql import functions as F

    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    path = str(tmp_path / "corpus")
    fixture_pages(spark).repartition(8, "url").write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    seeds = [
        SeedSpec(0, seed_url=f"{BASE}/propublica.html",
                 index_selector="section#river section h1 a",
                 extract_selector="h1", extract_kind="text",
                 sleep_time_between_requests=0.0)
    ]
    crawler = Crawler(spark, pages, seeds, assume_unique_urls=True, pages_path=path)
    key_urls = [f"{BASE}/propublica.html"]
    keys = spark.createDataFrame([(u,) for u in key_urls], "url string")
    pruned = crawler._pruned_corpus(keys, len(key_urls), key_urls=key_urls)
    assert pruned is not None
    files = pruned.inputFiles()
    assert 0 < len(files) < len(pages.inputFiles())
    fmap, _ = crawler._url_file_map()
    assert fmap.storageLevel.useMemory  # built and cached by the prune
    plan = (
        fmap.filter(F.col("url").isin(key_urls))._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" in plan
    assert sorted(crawler._pruned_corpus(keys, len(key_urls)).inputFiles()) == sorted(files)


def test_body_join_prunes_corpus_scan_to_url_html(spark, tmp_path):
    """The extraction body join must column-prune the PARQUET corpus scan
    to (url, html) — a scan reading text/lang/warc_ts for a 2-column probe
    would move the whole corpus at 100 TB."""
    from pyspark.sql import functions as F

    from upton_spark.crawler import Crawler, SeedSpec
    from upton_spark.sources.fixtures import BASE, fixture_pages

    path = str(tmp_path / "corpus")
    fixture_pages(spark).write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    seeds = [
        SeedSpec(0, url_list=[f"{BASE}/webinar.html"], extract_selector="h1",
                 extract_kind="text", sleep_time_between_requests=0.0)
    ]
    crawler = Crawler(spark, pages, seeds, assume_unique_urls=True)
    frontier = crawler.build_frontier(
        spark.createDataFrame([], "seed_id int, page_round int, pos int, url string")
    )
    plan = crawler.attach_bodies(frontier)._jdf.queryExecution().executedPlan().toString()
    corpus_scans = [
        seg.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
        for seg in plan.split("FileScan parquet ")[1:]
        if "corpus" in seg.split("Location", 1)[1][:200]
    ]
    assert corpus_scans, plan
    for rs in corpus_scans:
        assert "text" not in rs and "lang" not in rs and "warc_ts" not in rs, rs
    assert any("html:binary" in rs for rs in corpus_scans)


def test_tfidf_no_python_no_cartesian(spark, sf_dir):
    """tf-idf: the corpus-size side must arrive broadcast (never a
    CartesianProduct row-multiplier), and the whole pipeline stays
    JVM-side codegen."""
    import __spark_entry__ as m

    plan = plan_of(m.q_tfidf_keywords(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row N side, broadcast
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_inverted_index_partial_aggregates_no_window(spark, sf_dir):
    """Postings build is groupBy-only (partial-agg friendly), no window
    sort anywhere, no Python."""
    import __spark_entry__ as m

    plan = plan_of(m.q_inverted_index(spark, sf_dir))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
